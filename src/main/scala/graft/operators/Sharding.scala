package graft.operators

import graft.functions.Murmur3ShardCode.shard_code
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weighted hash sharding across target shards (SURVEY.md §2.A ops
  * #11-#12): `shardIndex = (murmur3_128(key).asInt & MaxInt) % Σweights`,
  * then a cumulative-weight walk picks the shard
  * (`AbstractClickhouseLoaderMapper.java:256-287`).
  *
  * The murmur expression is codegen'd ([[graft.functions.Murmur3ShardCode]]),
  * and the weight walk compiles to a nested CASE WHEN over the
  * cumulative bounds — the whole assignment stays inside whole-stage
  * codegen and never shuffles by itself. The direct load writes this
  * frame as-is (the reference's map-only job); only the staged paths
  * co-locate rows with their shard through [[Sharding.partitionByShard]].
  */
final case class ShardSpec(weights: Seq[Int]) {
  require(weights.nonEmpty && weights.forall(_ > 0), "weights must be positive")
  val totalWeight: Int = weights.sum
  /** cumulative upper bounds: shard i owns [bounds(i-1), bounds(i)). */
  val bounds: Seq[Int] = weights.scanLeft(0)(_ + _).tail
}

object Sharding {

  /** `(murmur3_128(key).asInt & MaxInt) % totalWeight` — the raw index
    * into the weight space.
    */
  def shardIndex(key: Column, spec: ShardSpec): Column =
    pmod(shard_code(key.cast("string")), lit(spec.totalWeight))

  /** Cumulative-weight walk (`getClusterNodesByShardIndex`,
    * AbstractClickhouseLoaderMapper.java:255-263): map the weight-space
    * index to the shard ordinal.
    */
  def shardId(key: Column, spec: ShardSpec): Column = {
    val idx = shardIndex(key, spec)
    spec.bounds.zipWithIndex.foldRight(lit(spec.weights.size - 1): Column) {
      case ((bound, shard), elseCol) => when(idx < bound, lit(shard)).otherwise(elseCol)
    }
  }

  /** Append a `shard` column. Rows with a null key go through the
    * SAME weighted walk, keyed by a deterministic whole-row hash —
    * unlike the reference's random UUID (`AbstractClickhouseLoaderMapper.java:279`),
    * which (a) ignores shard weights only by luck of the hash and
    * (b) re-rolls on task retry, misplacing rows relative to batches a
    * failed attempt already wrote. A content-derived key is stable
    * across retries and honors the weight distribution.
    */
  def assign(df: DataFrame, keyCol: String, spec: ShardSpec): DataFrame = {
    val surrogate = xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("string")
    df.withColumn("shard",
      shardId(coalesce(col(keyCol).cast("string"), surrogate), spec))
  }

  /** Co-locate rows with their shard for a shard-local sink: one
    * shuffle that sends shard `s` to partitions
    * `[s·pps, (s+1)·pps)` exactly, `pps = partitionsPerShard`
    * splitting each shard's stream by a whole-row hash for write
    * parallelism (the reference's `--loader-task-executor` reducer
    * fan-out, ClickhouseHdfsLoader.java:142-154). The partition id is
    * computed, not hashed from the shard id, so no two shards ever
    * share a partition.
    */
  def partitionByShard(df: DataFrame, spec: ShardSpec, partitionsPerShard: Int = 1): DataFrame = {
    val pps = partitionsPerShard
    val id =
      if (pps == 1) col("shard")
      else col("shard") * pps +
        pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(pps.toLong)).cast("int")
    df.repartitionById(spec.weights.size * pps, id)
  }
}
