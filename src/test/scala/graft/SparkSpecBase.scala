package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (lazy — one JVM-wide session is reused
  * across suites via getOrCreate), built by the run harness at 4 cores. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Harness.session(cpus = 4)

  def sf: String = "/root/testdata/sf0.001"

  private val testRoots = scala.collection.mutable.Buffer[Path]()
  private val suiteRoots = scala.collection.mutable.Buffer[Path]()

  /** A fresh directory under the temp dir, deleted recursively when the
    * current test ends — or, with `perSuite`, when the suite ends (for
    * fixtures that lazy vals share across tests). */
  def tempRoot(prefix: String, perSuite: Boolean = false): Path = {
    val root = Files.createTempDirectory(prefix)
    synchronized((if (perSuite) suiteRoots else testRoots) += root)
    root
  }

  /** Best-effort recursive delete: a root a test already removed, or a
    * file that vanishes mid-walk, is not an error. */
  private def deleteAll(roots: scala.collection.mutable.Buffer[Path]): Unit = {
    val all = synchronized { val r = roots.toList; roots.clear(); r }
    all.foreach { root =>
      try scala.util.Using.resource(Files.walk(root))(
        _.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p): Unit))
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    }
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally deleteAll(testRoots)

  override def afterAll(): Unit =
    try deleteAll(suiteRoots) finally super.afterAll()

  /** Bag equality via symmetric exceptAll (SURVEY A2). */
  def assertBagEqual(a: org.apache.spark.sql.DataFrame,
                     b: org.apache.spark.sql.DataFrame): Unit = {
    val aNotB = a.exceptAll(b).count()
    val bNotA = b.exceptAll(a).count()
    assert(aNotB == 0 && bNotA == 0,
      s"bag mismatch: $aNotB rows only in left, $bNotA only in right")
  }
}
