package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** Fixture/table access. The engine's native storage is columnar parquet
  * (vs the reference's newline-delimited HDFS text,
  * reference: src/de/uni_stuttgart/ipvs_as/MapReduceWSI.java:93-96);
  * text/CSV readers are kept for reference-parity ingest.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def parquet(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Canonical events schema AFTER normalization: `ts` is a plain
    * session-zone TIMESTAMP (the session zone is UTC, GraftSession).
    * Every operator downstream of the loaders sees exactly this.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Normalize whatever physical `ts` encoding an events file carries
    * into the canonical session-zone TIMESTAMP — the ONE place in the
    * engine that knows the on-disk representations. Fixture
    * generations have carried three encodings:
    *   - TIMESTAMP(isAdjustedToUTC=false, MICROS): Spark reads it as
    *     TIMESTAMP_NTZ; under the UTC session zone the LTZ cast is a
    *     bit-identical reinterpretation (DuckDB reads the same column
    *     as its naive TIMESTAMP, so oracle parity is by construction);
    *   - plain TIMESTAMP (isAdjustedToUTC=true, or INT96): pass-through;
    *   - legacy TIMESTAMP(NANOS) read as raw long under
    *     `spark.sql.legacy.parquet.nanosAsLong`: truncate ns→µs, the
    *     same truncation DuckDB applies.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case TimestampType    => df
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case other => throw new graft.core.GraftException(
      s"events.ts: unsupported physical type $other — expected timestamp, timestamp_ntz, or legacy int64 nanos")
  }

  /** Batch events loader. `nanosAsLong` must be set BEFORE the read to
    * even open a legacy nanos file, and is a no-op for the other
    * encodings (verified: a µs file still infers as TIMESTAMP_NTZ).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Streaming twin of [[events]] — same normalization contract, for
    * `readStream` sources (which require a declared schema). The
    * physical `ts` type is peeked from the footers with a schema-only
    * batch read (one footer, no data scan), the stream schema is
    * declared to MATCH the files, and [[normalizeEventTs]] lifts the
    * result to the canonical TIMESTAMP — so every streaming operator
    * is encoding-agnostic, exactly like batch.
    *
    * @param oneBatch force the whole fixture into a single micro-batch
    *                 (the bounded-fixture stateful forms flush state at
    *                 end of batch; the default file-source cap of 1000
    *                 files would otherwise split a large directory)
    */
  def eventsStream(spark: SparkSession, dir: String,
                   oneBatch: Boolean = false): DataFrame = {
    val glob = "events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // An empty/not-yet-populated source dir (normal for a stream fed
    // over time) has no footers to peek — fall back to the canonical
    // TimestampType rather than failing setup; files that later arrive
    // with a different physical encoding belong to a restarted stream.
    // The fallback is scoped to the EXISTING-but-empty case: a missing
    // path stays a loud setup error (a typo'd source dir must not
    // become a stream that silently produces zero rows forever).
    val physical: DataType =
      try spark.read.option("pathGlobFilter", glob).parquet(dir).schema("ts").dataType
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          val p = new org.apache.hadoop.fs.Path(dir)
          val exists =
            try p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
            catch { case _: java.io.IOException => false }
          if (!exists) throw e
          TimestampType
      }
    val declared = StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = physical) else f))
    var reader = spark.readStream.schema(declared).option("pathGlobFilter", glob)
    if (oneBatch)
      reader = reader.option("maxFilesPerTrigger", Int.MaxValue.toString)
    normalizeEventTs(reader.parquet(dir))
  }

  /** THE canonical documents schema for streaming sources (readStream
    * requires a declared schema; one shared definition prevents the
    * per-operator drift the events family once had — the eventsStream
    * lesson applied to the documents table).
    */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("lang", StringType), StructField("text", StringType)))

  /** Streaming source over the documents fixture (one file per table —
    * pathGlobFilter pins the exact name, matching the batch loader).
    */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)

  /** Newline-delimited delimiter-separated text, the reference's record
    * format (reference: test/src/.../TestMapper.java:26-28 — CSV lines).
    */
  def csv(spark: SparkSession, path: String, sep: String = ",",
          header: Boolean = false): DataFrame =
    spark.read.option("sep", sep).option("header", header.toString)
      .option("inferSchema", "false").csv(path)

  /** Schema-typed CSV source — the typed counterpart of [[csv]]:
    * caller-declared schema (never inferred — inference is a full
    * extra pass at scale and type-drifts on partial data), header-aware.
    *
    * `multiLine` controls the splittability tradeoff: the default
    * (false) splits files at line boundaries — the 100 TB path — but
    * cannot parse quoted EMBEDDED newlines; set true only for data
    * that carries them (each file then parses as one unit). The sink
    * quotes newlines per RFC 4180 either way.
    */
  def csvTyped(spark: SparkSession, path: String, schemaDdl: String,
               header: Boolean = true, multiLine: Boolean = false): DataFrame =
    spark.read.schema(schemaDdl).option("header", header.toString)
      // actually header-aware: validate the file's header against the
      // declared schema instead of applying it positionally (the
      // default enforceSchema=true silently mis-assigns columns when
      // file order/arity drifts from the DDL)
      .option("enforceSchema", "false")
      .option("multiLine", multiLine.toString).csv(path)

  /** CSV sink (quoted as needed, so embedded delimiters round-trip). */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  /** Raw (offset-less) text lines; glob patterns supported like the
    * reference's TextInputFormat config (reference: test/src/.../Runner.java:36-37).
    */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Tab-separated key/value text sink, the reference's output format
    * (reference: test/src/.../Runner.java:39-40; MapReduceWSIImpl.java:298).
    */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("sep", "\t").csv(path)

  /** JSON-lines source — the de-facto interchange format of LLM
    * training-data pipelines (one JSON document per line, splittable,
    * append-friendly). Schema is caller-declared, not inferred: at
    * 100 TB an inference pass is a second full read of the corpus,
    * and silent schema drift across shards is exactly what a declared
    * schema catches. Pass DDL like
    * `"doc_id bigint, text string, meta map<string,string>"`.
    * Compressed shards (.gz/.zst) read transparently.
    *
    * Malformed lines: PERMISSIVE mode parses them to all-NULL rows —
    * to SEE them, include `_corrupt_record string` in the DDL and the
    * raw offending line lands in that column (TablesSpec demonstrates;
    * note Spark requires caching the parsed result before querying
    * that column alone). For ingest that should hard-stop on bad data,
    * read with `.option("mode", "FAILFAST")` instead.
    */
  def jsonl(spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    spark.read.schema(schemaDdl).option("mode", "PERMISSIVE").json(path)

  /** JSON-lines sink; `compression` e.g. "gzip" for archival shards,
    * "none" for downstream-streamable output.
    */
  def writeJsonl(df: DataFrame, path: String, compression: String = "none"): Unit =
    df.write.mode("overwrite").option("compression", compression).json(path)

  /** ORC — the other built-in columnar format (schema embedded,
    * predicate pushdown and column pruning like parquet); for
    * interchange with Hive-era warehouses.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Q121: SCHEMA-EVOLUTION read — a lake dataset whose producer grew
    * a column mid-stream: old shards lack it, new shards carry it.
    * `mergeSchema` reconciles per-file footers into the UNION schema
    * (by name, not position), null-filling the missing column in old
    * shards — the semantics every long-lived 100 TB dataset needs the
    * day a field is added, without rewriting history. Per-shard
    * footers are merged in a distributed job, so reconciliation cost
    * scales with file COUNT, not data volume; pushdown and pruning
    * still reach each file with its own physical schema.
    */
  def parquetMerged(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)
}
