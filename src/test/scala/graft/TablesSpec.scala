package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The warehouse loaders read each table's schema from its Parquet
  * footer on the driver instead of letting Spark infer it with a job.
  * The footer schema must be the one Spark's inference resolves, for
  * every table of every fixture, or a loader would change a query's
  * input types. */
class TablesSpec extends SparkSpecBase {

  private val fixtures = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(n => s"${new java.io.File(sf).getParent}/$n") :+ "perfbench/data/sf0.01"

  test("footer schema equals Spark's inferred schema for every table") {
    for (dir <- fixtures; name <- Tables.names) {
      val p = Tables.path(dir, name)
      // Tables.events reads with nanosAsLong on; infer under the same conf
      if (name == "events")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val inferred = spark.read.parquet(p).schema
      assert(Tables.footerSchema(spark, p) == inferred, s"$p footer schema")
      assert(Tables.load(spark, dir, name).schema == inferred, s"$p loaded schema")
    }
  }

  test("a Spark-written directory: first data file, Spark's stored schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_footer").toString
    val tagged = new MetadataBuilder().putString("comment", "kept").build()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .select(col("k"), col("v").as("v", tagged))
      .repartition(3).write.mode("overwrite").parquet(dir)
    val footer = Tables.footerSchema(spark, dir)
    // the field metadata lives only in the schema Spark stores in the
    // footer's key-value metadata; the Parquet schema cannot carry it
    assert(footer("v").metadata == tagged)
    // the footer keeps `k` required; a file-source relation makes every
    // field nullable on load, with a given schema or an inferred one
    assert(spark.read.schema(footer).parquet(dir).schema ==
      spark.read.parquet(dir).schema)
  }
}
