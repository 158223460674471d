package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Cleansing

/** Export projections — the reference's CSV/Dolt dump queries
  * (reference: dump-dat.rkt:44-94; dump-dolt.rkt:46-148).
  */
object Export {

  /** Dolt export scaling: bid/ask trunc 2, vol/greeks trunc 4
    * (reference: dump-dolt.rkt:60-67). */
  def doltChainProjection(df: DataFrame): DataFrame =
    df.select(
      col("date"), col("act_symbol"), col("expiration"), col("strike"),
      col("call_put"),
      Cleansing.truncTo(col("bid"), 2).as("bid"),
      Cleansing.truncTo(col("ask"), 2).as("ask"),
      Cleansing.truncTo(col("vol"), 4).as("vol"),
      Cleansing.truncTo(col("delta"), 4).as("delta"),
      Cleansing.truncTo(col("gamma"), 4).as("gamma"),
      Cleansing.truncTo(col("theta"), 4).as("theta"),
      Cleansing.truncTo(col("vega"), 4).as("vega"),
      Cleansing.truncTo(col("rho"), 4).as("rho"))

  /** Date-partitioned CSV sink with header — the engine-side analog of the
    * per-date dump files (reference: dump-dat.rkt:44-81). Empty string
    * encodes NULL (reference: dump-dolt.rkt:107-120). */
  def writeDailyCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").option("nullValue", "")
      .partitionBy("date").csv(path)

  /** Bucketed parquet table for co-located joins: two tables bucketed the
    * same way join with NO exchange on either side — the pre-shuffle
    * pattern for repeatedly-joined 100 TB fact tables (chain ↔ volatility
    * by symbol, documents ↔ embeddings by id). Bucket count should match
    * the target parallelism, not the test value. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet").saveAsTable(table)

  /** Range-partitioned sorted-run export: `n` parquet files whose key
    * ranges are DISJOINT and internally sorted (repartitionByRange
    * samples the key distribution, so file sizes stay balanced even on
    * skewed keys). File order IS global order — a downstream
    * merge-reader consumes globally sorted data with no shuffle, and
    * min/max footer stats let range-pruned scans skip whole files. The
    * write-side shape of the sorted-scan operators (as-of, merge
    * dedup): pay the sort once at export, never again at read. */
  def writeRangeSorted(df: DataFrame, path: String, n: Int,
      keys: Seq[String]): Unit =
    df.repartitionByRange(n, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** JSONL export — the training-pipeline native interchange format
    * (one JSON object per line). Same deterministic layout contract as
    * [[writeRangeSorted]]: `n` files with DISJOINT key ranges, sorted
    * within each file, so file order is global order and a downstream
    * trainer (or merge-reader) consumes ordered shards with no
    * shuffle. */
  def writeJsonl(df: DataFrame, path: String, n: Int,
      keys: Seq[String]): Unit =
    df.repartitionByRange(n, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .write.mode("overwrite").json(path)

  /** Token-budgeted sharded JSONL export + read-back manifest — the
    * manifest-DRIVEN form of [[writeJsonl]]: the shard layout comes
    * from [[graft.ext.Sampling.shardPlan]] (documents in `idCol` order
    * packed greedily into ≈`shardTokens`-token shards, never splitting
    * a document), the data lands as `shard_id=N/` JSONL partitions,
    * and the returned manifest is re-derived FROM DISK (one read-back
    * aggregate over the written files), so it certifies what a
    * downstream trainer will actually read, not what the plan
    * intended. Shard ids are deterministic integer prefix-sum
    * arithmetic — unlike `repartitionByRange` sampling, the same
    * corpus always yields the same layout, so the manifest is
    * oracle-checkable and two exports of the same snapshot are
    * byte-comparable.
    *
    * `df` must carry `idCol` (numeric, the pack order) and
    * `nTokensCol` (long). Returns (shard_id, n_docs, n_tokens,
    * first_doc, last_doc) sorted by shard_id. Scale shape: one
    * id-ordered prefix-sum window (hierarchical decomposition applies
    * when that single ordering is the bottleneck — see
    * [[graft.ext.Sampling.tokenBudgetBucketed]]), one hash
    * repartition on shard_id for the write, one column-pruned
    * read-back aggregate. */
  def writeJsonlSharded(df: DataFrame, path: String, idCol: String,
      nTokensCol: String, shardTokens: Long): DataFrame = {
    val spark = df.sparkSession
    val plan = graft.ext.Sampling.shardPlan(
        df.select(col(idCol), col(nTokensCol)),
        col(idCol), col(nTokensCol), shardTokens)
      .select(col("id").as(idCol), col("shard_id"))
    val data = df.join(plan, Seq(idCol))
    data.repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col(idCol))
      .write.mode("overwrite").partitionBy("shard_id").json(path)
    val idField = org.apache.spark.sql.types.StructField(idCol,
      org.apache.spark.sql.types.LongType)
    val ntField = org.apache.spark.sql.types.StructField(nTokensCol,
      org.apache.spark.sql.types.LongType)
    val shardField = org.apache.spark.sql.types.StructField("shard_id",
      org.apache.spark.sql.types.LongType)
    val back = spark.read
      .schema(org.apache.spark.sql.types.StructType(
        Seq(idField, ntField, shardField)))
      .json(path)
    back.groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(nTokensCol)).as("n_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
      .orderBy("shard_id")
  }

  /** Shard manifest of an exported dataset: one row per data file with
    * (file, rows, min_key, max_key) — the catalog a merge-reader or
    * range-pruned consumer plans against without opening data files.
    * For [[writeRangeSorted]]/[[writeJsonl]] output the ranges are
    * disjoint, so `ORDER BY min_key` IS the global read order
    * (ExportSpec asserts both). Pass the read-back DataFrame
    * (`spark.read.parquet(path)` / schema'd json) — one column-pruned
    * scan builds the manifest. */
  def manifest(df: DataFrame, key: String): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"),
        min(col(key)).as("min_key"), max(col(key)).as("max_key"))

  /** JSONL restore with bad-line tolerance — the JSON twin of
    * [[readCsvRestore]]: PERMISSIVE mode quarantines unparseable lines
    * into `_corrupt_record`; returns (good rows, quarantined lines). */
  def readJsonlRestore(spark: org.apache.spark.sql.SparkSession,
      path: String, schema: org.apache.spark.sql.types.StructType)
      : (DataFrame, DataFrame) = {
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    val df = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).json(path)
      .cache() // PERMISSIVE corrupt-column referencing requires it
    splitAndRelease(df)
  }

  /** Split a cached PERMISSIVE read into (good, quarantined) and release
    * the cache: the two sides are eagerly materialized (localCheckpoint,
    * whose blocks the ContextCleaner reclaims once unreferenced) so the
    * CacheManager entry — which would otherwise leak executor storage
    * for the session lifetime on every restore call — can be dropped
    * before returning.
    *
    * Tradeoffs of the localCheckpoint form, deliberate: (a) it truncates
    * lineage into non-replicated executor-local blocks, so an executor
    * loss AFTER this call fails the restored frames with missing-block
    * errors instead of recomputing from the source files — acceptable
    * for a restore (re-run the restore; the source files are still
    * there), chosen over the cache leak; (b) both splits materialize
    * eagerly even if the caller consumes only one — the quarantine side
    * is tiny by construction (corrupt rows), so the waste is one extra
    * scan of the cached blocks, not of the source. */
  private def splitAndRelease(df: DataFrame): (DataFrame, DataFrame) = {
    val good = df.where(col("_corrupt_record").isNull)
      .drop("_corrupt_record").localCheckpoint()
    val bad = df.where(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record")).localCheckpoint()
    df.unpersist()
    (good, bad)
  }

  /** S11 bulk restore: CSV → rows with bad-row tolerance, the analog of
    * `COPY … (on_error ignore)` (reference: restore-from-dolt.rkt:47-71).
    * PERMISSIVE mode quarantines unparseable rows into `_corrupt_record`;
    * [[readCsvRestore]] returns (good rows, quarantined rows) so the load
    * can count failures like the reference's per-row handler. */
  def readCsvRestore(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType)
      : (DataFrame, DataFrame) = {
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    val df = spark.read
      .option("header", "true").option("nullValue", "")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).csv(path)
      .cache() // PERMISSIVE corrupt-column referencing requires it
    splitAndRelease(df)
  }
}
