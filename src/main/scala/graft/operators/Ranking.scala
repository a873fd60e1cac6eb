package graft.operators

import graft.plans.Scope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed EXACT global ranking + the CCNet head/middle/tail
  * perplexity bucketing built on it (Wenzek et al. 2020 split their
  * corpus into thirds by LM perplexity; the tail is dropped or
  * down-weighted in the training mix).
  *
  * The naive way to rank globally — `row_number()` over a window with
  * no partition — collapses the whole corpus into ONE task. This
  * operator ranks in three corpus-scale-safe steps:
  *
  *   1. range-repartition by the sort key (Spark samples split points;
  *      data lands in key-ordered partitions),
  *   2. ONE tiny pass collecting per-partition row counts (bounded by
  *      the partition count, not the data),
  *   3. a zero-exchange mapPartitions that adds the partition's prefix
  *      offset to a local running index.
  *
  * The rank is a pure function of the TOTAL ORDER, not the partition
  * layout — ties must be impossible by construction, so callers pass a
  * key list that ends in a unique column (the specs assert partition
  * invariance). Buckets are then integer arithmetic on (rank, N):
  * bucket b of n = (rank - 1) * n / N — exactly n buckets, sizes
  * differing by at most one, replayable in SQL from row_number().
  */
object Ranking {

  /** (input row ..., rank) with rank 1..N by `keys` — exact, no global
    * sort bottleneck. `keys` must be a total order (no ties). The rank
    * is a function of the total order alone, so it is identical under
    * any input partitioning even though the range boundaries themselves
    * come from sampling.
    */
  def globalRank(df: DataFrame, keys: Seq[Column])(implicit scope: Scope): DataFrame =
    globalRankWithTotal(df, keys)._1

  /** `globalRank` + the exact total row count N, which the offset
    * collect already knows — callers that need N (bucketing) must not
    * pay a second full scan to recount it. The range-partitioned
    * intermediate registers into `scope`: the prefix offsets were
    * counted from THAT materialization, so it must stay persisted until
    * the caller's action completes (recomputing it could resample
    * different range boundaries and misalign the offsets).
    */
  def globalRankWithTotal(
      df: DataFrame, keys: Seq[Column])(implicit scope: Scope): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parted = scope.persist(df.repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*))
    // per-partition counts: bounded by the partition count — the same
    // "bounded manifest collect" contract as Materialize. Count with a
    // Long: Iterator.size is an Int and a >2^31-row partition would
    // silently wrap it negative.
    val counts = parted.rdd
      .mapPartitionsWithIndex { case (i, it) =>
        var c = 0L
        while (it.hasNext) { it.next(); c += 1 }
        Iterator((i, c))
      }
      .collect().sortBy(_._1)
    val offsets = counts.scanLeft(0L)(_ + _._2).dropRight(1)
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = df.schema.add("rank", "long")
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val out = parted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var i = bc.value(pid)
      it.map { r =>
        i += 1
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      }
    }(enc)
    (out, counts.map(_._2).sum)
  }

  /** Equal-frequency buckets 0..n-1 over an exact global rank:
    * bucket = (rank - 1) * n / N (integer floor). With n = 3 this is
    * CCNet's head/middle/tail perplexity split when ranked by LM score
    * descending (best first).
    */
  def rankBuckets(ranked: DataFrame, total: Long, nBuckets: Int): DataFrame =
    // `div`, not `/`: Spark's Divide casts bigints to double, which
    // only floors correctly while N stays under ~2^51 — the same
    // integer-division rule pageRank's flow term follows
    ranked.withColumn("bucket",
      expr(s"cast(((rank - 1) * ${nBuckets.toLong}) div ${total}L as int)"))

  /** CCNet-style perplexity terciles over the bigram-LM score table
    * (`NgramLm.scoreDocs` output): rank by avg_lp DESC (higher log-prob
    * = more fluent = head), doc_id ASC as the unique tie-break; emit
    * (doc_id, avg_lp, rank, bucket) with bucket 0=head, 1=middle,
    * 2=tail.
    */
  def perplexityBuckets(scored: DataFrame, nBuckets: Int = 3)
      (implicit scope: Scope): DataFrame = {
    val (ranked, n) = globalRankWithTotal(
      scored.select(col("doc_id"), col("avg_lp")),
      Seq(col("avg_lp").desc, col("doc_id").asc))
    rankBuckets(ranked, n, nBuckets).select("doc_id", "avg_lp", "rank", "bucket")
  }
}
