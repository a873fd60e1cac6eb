package graft.operators

import graft.plans.Scope
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** Product quantization — the ANN path for the memory-bound regime:
  * at 10^12 vectors the raw embeddings (64 floats = 256 B) do not fit
  * executor memory, but their PQ codes (m sub-codes = m bytes, 32x
  * smaller here) do. Vectors are L2-normalized (so squared-L2 order
  * equals cosine order), each split into `m` subvectors, and each
  * subvector quantized to its nearest per-subspace centroid out of
  * `ksub`; queries score the WHOLE corpus from its codes via an
  * asymmetric-distance LUT (m × ksub per query) without ever touching
  * a raw corpus vector — the scan is code-table-sized, the raw
  * embedding column is read exactly once (at encode time).
  *
  * Determinism is engineered end to end:
  *  - training (Lloyd per subspace) accumulates each cell's mean
  *    SEQUENTIALLY in id order after a repartition-by-(sub,code) —
  *    the same discipline as the IVF quantizer — so codebooks are
  *    bit-identical at any parallelism;
  *  - every distance is double arithmetic over dims in ascending
  *    order with a left-associated sum, and normalization uses only
  *    *, /, sqrt (all IEEE-exact, engine-portable) — so a SQL oracle
  *    replays encode and ADC scoring BIT-EXACTLY from the dumped
  *    codebook table (training itself is the only non-SQL step, and
  *    its output is data);
  *  - argmin and rank ties break on the lower code / corpus id.
  */
object Pq {

  val TrainIters = 3

  /** L2-normalize in doubles: per dim, v(j)/sqrt(sum of squares),
    * squares computed AFTER widening to double (float multiply would
    * not match the oracle's double multiply), summed in ascending dim
    * order.
    */
  def normalize(v: Seq[Float]): Array[Double] = {
    var ss = 0.0
    var j = 0
    while (j < v.length) { val x = v(j).toDouble; ss += x * x; j += 1 }
    val n = math.sqrt(ss)
    val out = new Array[Double](v.length)
    j = 0
    while (j < v.length) { out(j) = v(j).toDouble / n; j += 1 }
    out
  }

  /** Squared L2 between a subvector slice [off, off+d) of `nv` and a
    * centroid, dims ascending, left-associated.
    */
  private def sqDist(nv: Array[Double], off: Int, c: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < c.length) { val t = nv(off + j) - c(j); s += t * t; j += 1 }
    s
  }

  private def argminCode(nv: Array[Double], off: Int,
      cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = sqDist(nv, off, cents(0))
    var code = 1
    while (code < cents.length) {
      val d = sqDist(nv, off, cents(code))
      if (d < bestD) { best = code; bestD = d } // tie keeps the lower code
      code += 1
    }
    best
  }

  /** Per-subspace codebooks: seeded-sample init (the `ksub` corpus
    * rows with the smallest murmur(vec_id), same discipline as
    * [[Similarity.ivfCentroidsSampled]]) refined by `iters`
    * deterministic Lloyd iterations over the normalized subvectors.
    * Returns (sub, code) -> centroid (doubles); m*ksub rows — rides as
    * a broadcast value.
    * A training set that fits the driver ([[Scope.collectWithin]],
    * 8 + 4·dim B per row) trains in memory, replaying
    * [[codebooksDistributed]] bit-exactly (PqSpec branch parity).
    */
  def codebooks(
      corpus: DataFrame, m: Int, ksub: Int, iters: Int = TrainIters,
      idCol: String = "vec_id", vecCol: String = "embedding")
    : Array[(Int, Int, Array[Double])] = {
    val raw = Similarity.idVectors(corpus, idCol, vecCol)
    val dim = Similarity.vectorWidth(raw)
    Scope.collectWithin(raw, 8L + 4L * dim) match {
      case Some(rows) => codebooksDriver(rows, m, ksub, iters)
      case None => codebooksDistributed(raw, dim, m, ksub, iters)
    }
  }

  /** The distributed branch of [[codebooks]] over vectors `dim` wide. */
  private[graft] def codebooksDistributed(raw: Dataset[(Long, Array[Float])], dim: Int,
      m: Int, ksub: Int, iters: Int = TrainIters): Array[(Int, Int, Array[Double])] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val base = raw.map { case (id, v) => (id, normalize(v)) }
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m

    // init: subvectors of the ksub seeded-sample rows, in sample order
    val sample = base
      .map { case (id, nv) => (MurmurHash3.stringHash(s"pq:$id", 4242), id, nv) }
      .toDF("h", "id", "nv").orderBy("h", "id").limit(ksub)
      .select("nv").as[Array[Double]].collect()
    var cbs: Array[(Int, Int, Array[Double])] =
      (0 until m).flatMap { sub =>
        sample.zipWithIndex.map { case (nv, code) =>
          (sub, code, nv.slice(sub * dsub, (sub + 1) * dsub))
        }
      }.toArray

    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(
        cbs.groupBy(_._1).map { case (sub, rows) =>
          sub -> rows.sortBy(_._2).map(_._3)
        })
      val sums = base
        .flatMap { case (id, nv) =>
          (0 until m).map { sub =>
            (sub, argminCode(nv, sub * dsub, bc.value(sub)), id,
              nv.slice(sub * dsub, (sub + 1) * dsub))
          }
        }
        .toDF("sub", "code", "id", "sv")
        .repartition(col("sub"), col("code"))
        .sortWithinPartitions("sub", "code", "id")
        .as[(Int, Int, Long, Array[Double])]
        .mapPartitions { rows =>
          // co-located, id-sorted: one sequential accumulation per cell
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[(Int, Int), (Array[Double], Long)]
          rows.foreach { case (sub, code, _, sv) =>
            val (s, n) = acc.getOrElseUpdate((sub, code),
              (new Array[Double](sv.length), 0L))
            var j = 0
            while (j < sv.length) { s(j) += sv(j); j += 1 }
            acc((sub, code)) = (s, n + 1)
          }
          acc.iterator.map { case ((sub, code), (s, n)) => (sub, code, s, n) }
        }.collect()
      val byCell = sums.map { case (sub, code, s, n) => (sub, code) -> ((s, n)) }.toMap
      cbs = cbs.map { case (sub, code, old) =>
        byCell.get((sub, code)) match {
          case Some((s, n)) if n > 0 => (sub, code, s.map(_ / n))
          case _ => (sub, code, old) // empty cell keeps its centroid
        }
      }
      bc.destroy()
      it += 1
    }
    cbs
  }

  /** The in-memory branch of [[codebooks]] — bit-identical by
    * construction: same murmur (h, id) sample order over the normalized
    * vectors, per-(sub, code) double sums accumulated in ascending-id
    * order (what the distributed repartition + (sub, code, id) sort
    * produces), empty cells keep their centroid, same s/n mean.
    */
  private def codebooksDriver(rows: Array[(Long, Array[Float])], m: Int,
      ksub: Int, iters: Int): Array[(Int, Int, Array[Double])] = {
    val nv = rows.map { case (id, v) => (id, normalize(v)) }.sortBy(_._1)
    require(nv.nonEmpty, "codebooks on an empty corpus")
    val dim = nv.head._2.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val sample = nv
      .map { case (id, x) => (MurmurHash3.stringHash(s"pq:$id", 4242), id, x) }
      .sortBy { case (h, id, _) => (h, id) }
      .take(ksub).map(_._3)
    var cbs: Array[(Int, Int, Array[Double])] =
      (0 until m).flatMap { sub =>
        sample.zipWithIndex.map { case (x, code) =>
          (sub, code, x.slice(sub * dsub, (sub + 1) * dsub))
        }
      }.toArray
    var it = 0
    while (it < iters) {
      val bySub = cbs.groupBy(_._1).map { case (sub, rs) =>
        sub -> rs.sortBy(_._2).map(_._3)
      }
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[(Int, Int), (Array[Double], Long)]
      nv.foreach { case (_, x) =>
        var sub = 0
        while (sub < m) {
          val code = argminCode(x, sub * dsub, bySub(sub))
          val (s, n) = acc.getOrElseUpdate((sub, code),
            (new Array[Double](dsub), 0L))
          var j = 0
          while (j < dsub) { s(j) += x(sub * dsub + j); j += 1 }
          acc((sub, code)) = (s, n + 1)
          sub += 1
        }
      }
      cbs = cbs.map { case (sub, code, old) =>
        acc.get((sub, code)) match {
          case Some((s, n)) if n > 0 => (sub, code, s.map(_ / n))
          case _ => (sub, code, old)
        }
      }
      it += 1
    }
    cbs
  }

  /** PQ codes: one row per (vector, subspace) with the argmin code —
    * the compressed corpus representation (ints only; this is what
    * shuffles and what the topk scan reads).
    */
  def encode(
      corpus: DataFrame, cbs: Array[(Int, Int, Array[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = cbs.map(_._1).max + 1
    val dsub = cbs.head._3.length
    val bc = spark.sparkContext.broadcast(
      cbs.groupBy(_._1).map { case (sub, rows) =>
        sub -> rows.sortBy(_._2).map(_._3)
      })
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val nv = normalize(v)
        (0 until m).map(sub => (id, sub, argminCode(nv, sub * dsub, bc.value(sub))))
      }
      .toDF("id", "sub", "code")
  }

  /** Asymmetric-distance LUT: per (query, subspace, code) the squared
    * L2 between the query's normalized subvector and the centroid —
    * m × ksub rows per query, the broadcast side of the topk join.
    */
  def adcLut(
      queries: DataFrame, cbs: Array[(Int, Int, Array[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val dsub = cbs.head._3.length
    val cbsLocal = cbs
    queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        val nv = normalize(qv)
        cbsLocal.map { case (sub, code, c) =>
          (qid, sub, code, sqDist(nv, sub * dsub, c))
        }
      }
      .toDF("query_id", "sub", "code", "part")
  }

  /** PQ ANN top-k: ADC distance = the per-subspace LUT parts summed in
    * ascending sub order (deterministic fold — the oracle mirrors it),
    * ranked ascending per query with corpus-id tie-break. The corpus
    * side is the CODES table — raw vectors appear nowhere in the scan.
    */
  def topKWithCodebooks(
      codes: DataFrame, queries: DataFrame,
      cbs: Array[(Int, Int, Array[Double])], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val lut = adcLut(queries, cbs, idCol, vecCol)
    val scored = codes
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy("query_id", "id")
      .agg(collect_list(struct(col("sub"), col("part"))).as("ps"))
      .withColumn("adc",
        aggregate(sort_array(col("ps")), lit(0.0),
          (acc, x) => acc + x.getField("part")))
      .drop("ps")
      .filter(col("id") =!= col("query_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("corpus_id"), col("adc"),
        col("rank"))
  }

  /** One-call PQ top-k (train + encode + score). */
  def topK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cbs = codebooks(corpus, m, ksub, TrainIters, idCol, vecCol)
    topKWithCodebooks(encode(corpus, cbs, idCol, vecCol), queries, cbs, k,
      idCol, vecCol)
  }

  /** Exact cosine in DOUBLE precision with left-associated dim-order
    * folds — every op is *, /, sqrt or +, so a SQL oracle with spelled
    * chains reproduces the bits (the float-precision
    * [[Dedup.cosineFloatUdf]] cannot be replayed exactly cross-engine; the
    * rerank stage needs exact replay because it RANKS by the value).
    */
  def cosineExact(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0),
      (acc, x) => acc + x)
    val na = sqrt(aggregate(ad, lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(bd, lit(0.0), (acc, x) => acc + x * x))
    dot / (na * nb)
  }

  /** ADC shortlist + exact re-rank (the IVFADC+R production pattern):
    * the code scan proposes `c` candidates per query, then ONLY those
    * c×|queries| raw vectors are fetched (candidate ids broadcast —
    * the corpus vector scan never shuffles) and ranked by exact
    * cosine. Lifts recall from quantization-bound to
    * shortlist-bound at O(c) raw-vector touches per query.
    */
  def topKReranked(
      corpus: DataFrame, queries: DataFrame, k: Int, c: Int,
      cbs: Array[(Int, Int, Array[Double])],
      codes: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = topKWithCodebooks(codes, queries, cbs, c, idCol, vecCol)
      .select("query_id", "corpus_id")
    val cv = corpus.select(col(idCol).cast("long").as("corpus_id"),
      col(vecCol).as("cv"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qv"))
    val scored = cv
      .join(broadcast(cand), Seq("corpus_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine", cosineExact(col("cv"), col("qv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }
}
