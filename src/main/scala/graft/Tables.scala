package graft

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

/** Catalog of the test-warehouse tables (TESTDATA.md / FIXTURES.md).
  *
  * Every loader reads its table's schema from the Parquet footer on the
  * driver ([[footerSchema]]) and passes it to `spark.read.schema`, so a
  * load launches no Spark job; Spark's own inference starts a
  * `mergeSchemasInParallel` job even for one file. The footer, not a
  * hard-coded `StructType`, stays the source of truth: the reference
  * declares fixed schemas (`daily_dag.py:121-151`, `weekly_dag.py:500-608`),
  * but the events table has shipped two `ts` flavours ([[events]]).
  * Predicate pushdown, column pruning and partition pruning are
  * Catalyst's job, not the caller's. The declared sink schemas below
  * serve the sink layer only.
  */
object Tables {

  /** Path of a table's parquet under a scale-factor directory. */
  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Spark schema of a Parquet file, or of the first data file (by path)
    * under a directory, read from its footer on the driver: no Spark job.
    * It resolves as Spark's own inference does: the schema Spark stored
    * under `ParquetReadSupport.SPARK_METADATA_KEY` when present, else the
    * footer converted by the session's `ParquetToSparkSchemaConverter`
    * (so `inferTimestampNTZ`, `nanosAsLong`, `binaryAsString` and
    * `int96AsTimestamp` apply). Like Spark's non-merging inference, one
    * file speaks for the whole dataset. Nullability is the footer's;
    * `spark.read` makes every field nullable on load either way. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file = if (fs.getFileStatus(root).isFile) root else firstDataFile(fs, root)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(meta.getSchema))
  }

  /** First visible data file under `dir` in path order, skipping the
    * `_`/`.`-prefixed files and directories Spark's file index hides. */
  private def firstDataFile(fs: FileSystem, dir: Path): Path = {
    val files = fs.listFiles(dir, true)
    val base = dir.toUri.getPath
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.toUri.getPath.stripPrefix(base).split('/')
        .forall(n => !n.startsWith("_") && !n.startsWith(".")))
      .minByOption(_.toString)
      .getOrElse(throw new IllegalArgumentException(s"no data file under $dir"))
  }

  /** A warehouse table, loaded with its footer schema (no Spark job). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = path(sfDir, name)
    spark.read.schema(footerSchema(spark, p)).parquet(p)
  }

  def region(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "lineitem")
  /** The events table's `ts` column has shipped as both nanosecond
    * parquet timestamps (which Spark's vectorized reader rejects — read
    * as raw nanos and truncate to micros, exactly DuckDB's
    * TIMESTAMP_NS→TIMESTAMP coercion) and plain micros (read natively,
    * as TIMESTAMP_NTZ under Spark's NTZ inference). The footer read tells
    * the two apart without a job. Normalize either to session-zoned
    * TimestampType; with the UTC session both paths land on identical
    * micros-since-epoch, so oracle comparisons agree. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(spark, sfDir, "events"))
  }

  /** Normalize an events frame's `ts` to TimestampType regardless of the
    * on-disk flavor (nanos-as-long, TIMESTAMP_NTZ, or already zoned). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every warehouse table as a temp view so the engine's SQL
    * surface (`spark.sql`) works alongside the Column DSL — the
    * reference's only query language was SQL text shipped to BigQuery
    * (S5/K3 sites); here the same statements run on Spark's parser
    * against the same tables. */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }

  /** Declared warehouse schemas, mirroring the reference's DDL blocks
    * (`daily_dag.py:121-151`, `weekly_dag.py:507-608`) re-keyed onto the
    * engine's domain. Used by the sink layer (Sinks.scala) for
    * cast-to-declared-schema semantics (SURVEY §1.4, P3).
    */
  val macroDailySchema: StructType = StructType(Seq(
    StructField("year", IntegerType, nullable = false),
    StructField("month", IntegerType, nullable = false),
    StructField("day", IntegerType, nullable = false),
    StructField("oil_price", DoubleType),
    StructField("gold_price", DoubleType)))

  val factSchema: StructType = StructType(Seq(
    StructField("ticker", StringType, nullable = false),
    StructField("year", IntegerType, nullable = false),
    StructField("month", IntegerType, nullable = false),
    StructField("day", IntegerType, nullable = false),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType)))
}
