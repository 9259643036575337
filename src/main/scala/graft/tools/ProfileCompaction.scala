package graft.tools

import graft.operators.{Dedup, Stores}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only pricer for [[graft.operators.Stores.shouldCompact]]'s
  * generation-count threshold (default 64): grows a MinHash gate
  * store to 8 / 64 / 512 committed generations and, at each count,
  * times every cost the threshold trades —
  *
  *  - `list`: [[Stores.generationCount]], the probe itself (one FS
  *    listing — linear in N but filesystem-cheap);
  *  - `probe_ptr`: the staleness stamp via the gatelog POINTER (a
  *    marker read, flat in N);
  *  - `gate_probe`: one single-doc near-dup probe against the grown
  *    store — the per-micro-batch cost a LIVE gate actually pays,
  *    where the N-leaf-dir listing/open overhead shows;
  *  - `compact`: [[Dedup.compactMinhashStore]] at that N (the cost
  *    the threshold defers);
  *  - `gate_probe_c`: the same probe against the compacted root (what
  *    compaction buys back).
  *
  * Two passes per timing, min reported (the repo's bench discipline).
  * Not part of the driver contract.
  *
  * Usage: `sbt "runMain graft.tools.ProfileCompaction"`; set
  * SPARK_GRAFT_SF_DIR to change scale (default sf0.1). */
object ProfileCompaction {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_profcomp")
    val store = root.resolve("store").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") < 64).cache()
    Dedup.writeMinhashStore(base, "doc_id", "text", store)
    // one admitted doc per generation, drawn outside the base — the
    // gate's worst accumulation shape (many tiny generations)
    val pool = docs.filter(col("doc_id") >= 1000 && col("doc_id") < 1512)
      .orderBy(col("doc_id")).collect()
    require(pool.length >= 512,
      s"need 512 pool docs, found ${pool.length} — run at sf0.1+")
    val probe = base.limit(1).select(col("doc_id"), col("text")).cache()
    probe.count()

    def time(body: => Unit): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime(); body
        (System.nanoTime() - t0) / 1e9
      }.min

    var built = 0
    var admitted = (0L, 0L)
    for (target <- Seq(8, 64, 512)) {
      // grow to `target` generations through the gate-append protocol
      // shape: per-generation bucket/shingle writes, ONE pointer
      // commit carrying the running admitted stamp (the wires commit
      // per batch; folding the commits here only skips repeated
      // pointer flips, which cost nothing at read time)
      while (built < target) {
        val row = pool(built)
        val b = Seq((row.getLong(0), row.getString(1)))
          .toDF("doc_id", "text")
        Dedup.writeGateAppend(Dedup.minhashBandBuckets(
          b, "doc_id", "text"), store, "buckets", built.toLong)
        Dedup.writeGateAppend(Dedup.portableShingleHashes(
          b, "doc_id", "text"), store, "shingles", built.toLong)
        admitted = Stores.addStamp(admitted,
          Stores.keyStamp(b.select(col("doc_id")).distinct(), "doc_id"))
        built += 1
      }
      Stores.commitStamp(spark, s"$store/gatelog", built - 1L, None,
        Some(admitted))
      val tList = time {
        Stores.generationCount(spark, store, "buckets"): Unit
      }
      val tPtr = time {
        Stores.admittedStamp(spark, store): Unit
      }
      val grown = Dedup.readMinhashStore(spark, store)
      val tGate = time {
        Dedup.minhashNearDupAgainstStore(probe, "text", grown, 0.5)
          .count(): Unit
      }
      val cDir = root.resolve(s"compacted_$target").toString
      val t0 = System.nanoTime()
      Dedup.compactMinhashStore(spark, store, cDir)
      val tCompact = (System.nanoTime() - t0) / 1e9
      val comp = Dedup.readMinhashStore(spark, cDir)
      val tGateC = time {
        Dedup.minhashNearDupAgainstStore(probe, "text", comp, 0.5)
          .count(): Unit
      }
      println(f"[compact] N=$target%-4d list=$tList%6.3f s  " +
        f"probe_ptr=$tPtr%6.3f s  " +
        f"gate_probe=$tGate%6.3f s  compact=$tCompact%6.2f s  " +
        f"gate_probe_compacted=$tGateC%6.3f s")
    }
    spark.stop()
  }
}
