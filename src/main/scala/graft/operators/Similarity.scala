package graft.operators

import graft.plans.Scope
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  *  - `bruteForceTopK`: exact cosine top-k per query. The baseline: a
  *    broadcast of the (small) query set against the corpus — one pass,
  *    no corpus shuffle, rank via window over (query, score).
  *  - `lshTopK`: random-hyperplane LSH — corpus bucketed by a `bits`-bit
  *    sign signature; queries probe their own bucket (plus optional
  *    1-bit-flip neighbor buckets) and rank exactly within. The scale
  *    path: per-query work drops from O(corpus) to O(bucket).
  *
  * Cosine scoring uses [[Dedup.cosineFloatUdf]] — a primitive-array
  * UDF bit-identical to the zip_with/aggregate Column form
  * (kept as the executable spec in SimilaritySpec): higher-order
  * functions are CodegenFallback in Spark, so the "pure Column" form
  * actually evaluated an interpreted lambda per element — measured
  * ~20x the UDF's cost on the pair-verify hot path.
  */
object Similarity {

  /** Deterministic random hyperplanes: component j of plane p =
    * murmur-derived value in [-1, 1) — seed-free, reproducible anywhere.
    */
  private[graft] def plane(p: Int, j: Int): Float = {
    val h = MurmurHash3.stringHash(s"plane:$p:$j", 31337)
    (h.toDouble / Int.MaxValue).toFloat
  }

  /** Sign-bit signature of a vector under `bits` hyperplanes. */
  def signature(v: Seq[Float], bits: Int): Int = {
    var sig = 0
    var p = 0
    while (p < bits) {
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += v(j) * plane(p, j); j += 1 }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  def signatureUdf(bits: Int) = udf((v: Seq[Float]) => signature(v, bits))

  /** Multi-probe bucket set: a signature plus every 1-bit-flip neighbor
    * (shared by `lshTopK` queries and `Dedup.embeddingPairs` blocking).
    */
  def probes(s: Int, bits: Int): Array[Int] =
    (Seq(s) ++ (0 until bits).map(b => s ^ (1 << b))).toArray

  def probesUdf(bits: Int) = udf((s: Int) => probes(s, bits))

  /** Exact cosine top-k: every query row against every corpus row.
    * `queries` is expected to be small (it is broadcast); rank with a
    * window per query.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", Dedup.cosineFloatUdf(col("cv"), col("qv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  // ---------- IVF (inverted-file) ANN ----------

  /** Default Lloyd iterations for the trained coarse quantizer. */
  val IvfTrainIters = 3

  /** Deterministic k-means++-free INIT centroids: the vectors of the
    * `nlist` corpus rows with the smallest murmur(vec_id) — a seeded
    * sample. Exposed separately so the spec can show training improves
    * on it; `ivfCentroids` (the default every IVF entry point uses)
    * refines these with Lloyd iterations.
    */
  def ivfCentroidsSampled(
      corpus: DataFrame, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): Array[(Int, Array[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (MurmurHash3.stringHash(s"ivf:$id", 4242), id, v) }
      .toDF("h", "id", "v")
      .orderBy("h", "id").limit(nlist)
      .select("v").as[Array[Float]].collect()
      .zipWithIndex.map { case (v, i) => (i, v) }
  }

  /** TRAINED coarse-quantizer centroids: seeded-sample init + `iters`
    * Lloyd iterations (assign each corpus vector to its nearest
    * centroid, recompute each cell's mean). Empty cells keep their
    * previous centroid. A training set that fits the driver
    * ([[Scope.collectWithin]], 8 + 4·dim B per row) trains in memory,
    * replaying [[ivfCentroidsDistributed]] BIT-EXACTLY (SimilaritySpec
    * branch parity) without its 1 sample job + `iters` rounds of jobs.
    */
  def ivfCentroidsTrained(
      corpus: DataFrame, nlist: Int, iters: Int = IvfTrainIters,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): Array[(Int, Array[Float])] = {
    val base = idVectors(corpus, idCol, vecCol)
    Scope.collectWithin(base, 8L + 4L * vectorWidth(base)) match {
      case Some(rows) => lloydDriver(rows, nlist, iters)
      case None => ivfCentroidsDistributed(corpus, nlist, iters, idCol, vecCol)
    }
  }

  /** (id, vector) rows of a corpus. */
  private[graft] def idVectors(corpus: DataFrame, idCol: String,
      vecCol: String): Dataset[(Long, Array[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
  }

  /** The width of the first vector (0 when empty): one probe job. */
  private[graft] def vectorWidth(vectors: Dataset[(Long, Array[Float])]): Int =
    vectors.head(1).headOption.fold(0)(_._2.length)

  /** The distributed branch of [[ivfCentroidsTrained]]. Determinism at
    * any parallelism: the per-cell mean is accumulated SEQUENTIALLY in
    * id-order after a repartition-by-cell + in-partition sort — float
    * summation order is fixed, so the centroids (and therefore the
    * ann_ivf_cells/probes dumps each Verify query recomputes) are
    * bit-identical run to run. Cost per iteration is one corpus pass +
    * one int-keyed shuffle of the vectors; the collect is nlist-bounded.
    */
  private[graft] def ivfCentroidsDistributed(
      corpus: DataFrame, nlist: Int, iters: Int = IvfTrainIters,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): Array[(Int, Array[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = idVectors(corpus, idCol, vecCol)
    var cents = ivfCentroidsSampled(corpus, nlist, idCol, vecCol)
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val sums = base
        .map { case (id, v) => (nearestCells(v, bc.value, 1)(0), id, v) }
        .toDF("cell", "id", "v")
        .repartition(col("cell"))
        .sortWithinPartitions("cell", "id")
        .as[(Int, Long, Array[Float])]
        .mapPartitions { rows =>
          // all rows of one cell are co-located and id-sorted: one
          // deterministic sequential double accumulation per cell
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[Int, (Array[Double], Long)]
          rows.foreach { case (cell, _, v) =>
            val (s, n) = acc.getOrElseUpdate(cell, (new Array[Double](v.length), 0L))
            var j = 0
            while (j < v.length) { s(j) += v(j); j += 1 }
            acc(cell) = (s, n + 1)
          }
          acc.iterator.map { case (cell, (s, n)) => (cell, s, n) }
        }.collect()
      val byCell = sums.map { case (cell, s, n) => cell -> ((s, n)) }.toMap
      cents = cents.map { case (cell, old) =>
        byCell.get(cell) match {
          case Some((s, n)) if n > 0 => (cell, s.map(x => (x / n).toFloat))
          case _ => (cell, old)
        }
      }
      bc.destroy()
      it += 1
    }
    cents
  }

  /** The in-memory branch of [[ivfCentroidsTrained]] — bit-identical by
    * construction: the seeded-sample init replays
    * [[ivfCentroidsSampled]]'s (murmur, id) total order; each iteration
    * assigns with the same `nearestCells` and accumulates per-cell
    * double sums in ascending-id order (exactly what the distributed
    * trainer's repartition-by-cell + in-partition (cell, id) sort
    * produces); empty cells keep their centroid; the mean is the same
    * `(x / n).toFloat`.
    */
  private def lloydDriver(rows: Array[(Long, Array[Float])], nlist: Int,
      iters: Int): Array[(Int, Array[Float])] = {
    val sorted = rows.sortBy(_._1)
    var cents: Array[(Int, Array[Float])] = rows
      .map { case (id, v) => (MurmurHash3.stringHash(s"ivf:$id", 4242), id, v) }
      .sortBy { case (h, id, _) => (h, id) }
      .take(nlist)
      .zipWithIndex.map { case ((_, _, v), i) => (i, v) }
    var it = 0
    while (it < iters) {
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[Int, (Array[Double], Long)]
      sorted.foreach { case (_, v) =>
        val cell = nearestCells(v, cents, 1)(0)
        val (s, n) = acc.getOrElseUpdate(cell, (new Array[Double](v.length), 0L))
        var j = 0
        while (j < v.length) { s(j) += v(j); j += 1 }
        acc(cell) = (s, n + 1)
      }
      cents = cents.map { case (cell, old) =>
        acc.get(cell) match {
          case Some((s, n)) if n > 0 => (cell, s.map(x => (x / n).toFloat))
          case _ => (cell, old)
        }
      }
      it += 1
    }
    cents
  }

  /** The coarse quantizer every IVF entry point uses: trained (Lloyd)
    * centroids. nlist is small; the table rides as a broadcast value.
    */
  def ivfCentroids(
      corpus: DataFrame, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): Array[(Int, Array[Float])] =
    ivfCentroidsTrained(corpus, nlist, IvfTrainIters, idCol, vecCol)

  /** Exact cosine in the engine-wide spelled order — per-dim FLOAT
    * product widened to DOUBLE, accumulated left-to-right, norms the
    * same way, `dot / (sqrt(na) * sqrt(nb))`. The ONE implementation
    * behind the IVF assignment AND SemDeDup: both DuckDB oracle
    * families (IvfCosSql, the SemDeDup pair/centroid replays) spell
    * exactly this arithmetic, so it must not fork.
    */
  private[graft] def cosExact(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var j = 0
    while (j < a.length) {
      dot += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** (cell, cosExact(v, centroid)) for every centroid. */
  private[graft] def cellCosines(
      v: Seq[Float], cents: Array[(Int, Array[Float])]): Array[(Int, Double)] =
    cents.map { case (cell, c) => (cell, cosExact(v, scala.collection.immutable.ArraySeq.unsafeWrapArray(c))) }

  private def nearestCells(v: Seq[Float], cents: Array[(Int, Array[Float])], n: Int): Array[Int] =
    cellCosines(v, cents).sortBy { case (cell, cos) => (-cos, cell) }.take(n).map(_._1)

  /** (id, cell) inverted-file assignment — each corpus vector goes to
    * its nearest centroid cell. Exposed for the driver dump so the
    * probe/candidate logic is SQL-oracle-checkable (ints only).
    */
  def ivfAssign(
      corpus: DataFrame, cents: Array[(Int, Array[Float])],
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(cents)
    val cellUdf = udf((v: Seq[Float]) => nearestCells(v, bc.value, 1)(0))
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("cell", cellUdf(col("v")))
      .select("id", "cell")
  }

  /** (query_id, cell) probe list — each query probes its nProbe nearest
    * cells (dump-exposed for the oracle, like ivfAssign).
    */
  def ivfProbes(
      queries: DataFrame, cents: Array[(Int, Array[Float])], nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val spark = queries.sparkSession
    val bc = spark.sparkContext.broadcast(cents)
    val probesUdf = udf((v: Seq[Float]) => nearestCells(v, bc.value, nProbe))
    queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(probesUdf(col("qv"))))
      .select("query_id", "cell")
  }

  /** IVF ANN top-k: corpus partitioned into nlist inverted lists by
    * nearest centroid; each query scans only its nProbe nearest cells
    * and ranks exactly within — per-query work drops from O(corpus) to
    * O(nProbe × corpus/nlist). The second scale path next to `lshTopK`
    * (recall vs brute force asserted in SimilaritySpec).
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame =
    ivfTopKWithCentroids(corpus, queries, k,
      ivfCentroids(corpus, nlist, idCol, vecCol), nProbe, idCol, vecCol)

  /** `ivfTopK` against explicit centroids (lets the spec compare the
    * trained vs sampled quantizer at equal probe budget).
    */
  def ivfTopKWithCentroids(
      corpus: DataFrame, queries: DataFrame, k: Int,
      cents: Array[(Int, Array[Float])], nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("corpus_id"), col(vecCol).as("cv"))
    val assigned = ivfAssign(corpus, cents, idCol, vecCol)
      .select(col("id").as("corpus_id"), col("cell"))
    val q = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
    val probes = ivfProbes(queries, cents, nProbe, idCol, vecCol)
    val scored = c.join(assigned, Seq("corpus_id"))
      .join(broadcast(probes.join(q, Seq("query_id"))), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", Dedup.cosineFloatUdf(col("cv"), col("qv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** LSH-bucketed ANN top-k: candidates share the query's signature
    * bucket or any 1-bit-flip neighbor bucket (multi-probe); exact
    * cosine rank within candidates. Trades recall for a corpus-scan-free
    * probe — recall@k vs brute force is asserted in SimilaritySpec.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val sig = signatureUdf(bits)
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .withColumn("bucket", sig(col("cv")))
    // each query probes its bucket + all 1-bit-flip buckets
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("bucket", explode(probesUdf(bits)(sig(col("qv")))))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", Dedup.cosineFloatUdf(col("cv"), col("qv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }
}
