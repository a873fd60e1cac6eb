package graft

import graft.plans.Pipeline
import graft.sources.PageGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Physical-plan quality gates: the optimizations claimed in Scaladoc
  * must actually appear in the executed plan (SURVEY.md §4 — column
  * pruning away the heavy binary/text columns, predicate pushdown,
  * broadcast join selection).
  */
class PlanSpec extends AnyFunSuite with ScopePerTest {

  private lazy val spark = SparkSpec.spark

  private lazy val pagesDir: String = {
    val dir = Files.createTempDirectory("graft-plan-pages").toString
    PageGen.pages(spark, 50).write.mode("overwrite").parquet(dir)
    dir
  }

  test("sentences stage prunes to (url, html) and pushes the lang filter") {
    import spark.implicits._
    val pages = spark.read.parquet(pagesDir).as[graft.model.Page]
    val plan = Pipeline.sentences(pages).queryExecution.executedPlan.toString
    // ReadSchema must NOT include the text column (≈half the bytes)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("html"),
      s"expected url+html in: $readSchema")
    assert(!readSchema.contains("text"), s"text not pruned: $readSchema")
    assert(!readSchema.contains("warc_ts"), s"warc_ts not pruned: $readSchema")
    // lang predicate reaches the scan
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]") ||
      plan.contains("EqualTo(lang,en)"), s"lang filter not pushed:\n$plan")
  }

  test("q2_join plans a broadcast hash join") {
    val df = SparkEntry.queries(scope)("q2_join")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("q1_agg uses partial aggregation (map-side combine)") {
    val df = SparkEntry.queries(scope)("q1_agg")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"no hash agg:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "no partial agg stage")
  }

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
  import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType}

  /** Every node of a plan, adaptive and query-stage wrappers opened. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  private def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] =
    nodes(p).collect { case e: ShuffleExchangeLike => e }

  private def isWide(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == StringType || dt == BinaryType || dt.isInstanceOf[ArrayType]

  test("dedup near-dup plans shuffle only compact keys — no text/vector in any exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for ((name, df) <- Seq(
      "minhashPairs" -> graft.operators.Dedup.minhashPairs(docs, threshold = 0.5),
      "jaccardPairs" -> graft.operators.Dedup.jaccardPairs(docs, threshold = 0.5),
      "simhashPairs" -> graft.operators.Dedup.simhashPairs(docs),
      "incrementalPairs" -> {
        val corpus = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0)
        val delta = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
        val idx = graft.operators.IncrDedup.bandIndex(corpus)
        graft.operators.IncrDedup.incrementalPairs(idx,
          graft.operators.IncrDedup.bucketCounts(idx), corpus, delta, threshold = 0.5)
      },
      "embeddingPairs" -> graft.operators.Dedup.embeddingPairs(emb, threshold = 0.95))) {
      df.collect() // finalize the adaptive plan
      val exs = exchanges(df.queryExecution.executedPlan)
      assert(exs.nonEmpty, s"$name: expected at least one exchange")
      exs.foreach { e =>
        e.output.foreach { attr =>
          assert(!isWide(attr.dataType),
            s"$name: exchange carries wide column ${attr.name}: ${attr.dataType} — " +
              "raw payloads must never shuffle (only band/bucket/id ints)")
        }
      }
    }
  }

  test("broadcast-free dedup verification (useBroadcast=false): no broadcast; only candidate payloads in exchanges") {
    // the dup-heavy-corpus path: candidate set too large to broadcast.
    // Every exchange stays id/band ints EXCEPT the O(|candidates|)
    // payload fetch, which must be a shuffled hash join, never broadcast.
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val emb = graft.operators.Dedup.plantNearDups(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      for ((name, df, allowed) <- Seq(
        ("minhashPairs",
          graft.operators.Dedup.minhashPairs(docs, threshold = 0.5, useBroadcast = false),
          Set("sh", "sh_a", "sh_b", "shs", "shs_a", "shs_b")),
        ("jaccardPairs",
          graft.operators.Dedup.jaccardPairs(docs, threshold = 0.5, useBroadcast = false),
          Set("sh", "sh_a", "sh_b", "shs", "shs_a", "shs_b")),
        ("embeddingPairs",
          graft.operators.Dedup.embeddingPairs(emb, threshold = 0.95, useBroadcast = false),
          Set("v", "v_a", "v_b")))) {
        df.collect() // finalize the adaptive plan
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastHashJoin"),
          s"$name: broadcast-free path must not broadcast:\n$plan")
        assert(plan.contains("ShuffledHashJoin"),
          s"$name: expected shuffled hash joins for candidate fetch:\n$plan")
        exchanges(df.queryExecution.executedPlan).foreach { e =>
          e.output.foreach { attr =>
            assert(!isWide(attr.dataType) || allowed.contains(attr.name),
              s"$name: exchange carries non-candidate wide column ${attr.name}: ${attr.dataType}")
          }
        }
      }
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("ANN top-k plans: no embedding vector rides a shuffle exchange (rank shuffle is scalars only)") {
    // the window-rank exchange after scoring must carry only
    // (query_id, corpus_id, cosine) — if column pruning ever stopped
    // reaching through the Window, every candidate row would drag its
    // float[] payloads into the shuffle (O(candidates x dim) bytes)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.orderBy("vec_id").limit(20)
    for ((name, df) <- Seq(
      "bruteForceTopK" -> graft.operators.Similarity.bruteForceTopK(emb, q, 10),
      "lshTopK" -> graft.operators.Similarity.lshTopK(emb, q, 10),
      "ivfTopK" -> graft.operators.Similarity.ivfTopK(emb, q, 10))) {
      df.collect() // finalize the adaptive plan
      exchanges(df.queryExecution.executedPlan).foreach { e =>
        e.output.foreach { attr =>
          assert(!attr.dataType.isInstanceOf[ArrayType],
            s"$name: exchange carries vector column ${attr.name} — " +
              "score before the rank shuffle, never ship embeddings")
        }
      }
    }
  }

  test("attachToMentions (J2 strict): link table broadcasts; only the A1 count shuffles") {
    import spark.implicits._
    val ann = graft.plans.Pipeline.annotate(
      graft.plans.Pipeline.sentences(graft.sources.PageGen.pages(spark, 60)),
      graft.sources.ChemDict.entries.flatMap(_.synonyms))
    val df = graft.operators.Linking.attachToMentions(ann, graft.sources.ChemDict.entries)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"link table must broadcast:\n$plan")
    // the 10^12-row mention side must NOT shuffle: the only exchanges
    // allowed are inside the (tiny) link-table subtree — the A1
    // mention-count aggregation
    val exs = exchanges(df.queryExecution.executedPlan)
    assert(exs.size <= 2, s"unexpected exchanges (${exs.size}): probe side must not shuffle")
  }

  import org.apache.spark.sql.catalyst.expressions.Attribute
  import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.command.DataWritingCommandExec
  import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
  import org.apache.spark.sql.util.QueryExecutionListener

  /** The executed plan of every table-data write `op` runs (the
    * `batch=<id>` dirs), keyed by output path. Query executions reach
    * listeners on their own queue, so a marker action run after `op`
    * drains it: its `onSuccess` arrives after every one of `op`'s.
    */
  private def tableWrites(op: => Unit): Seq[(String, SparkPlan)] = {
    val data = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]
    val marker = s"tableWrites_marker_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) drained.countDown()
        else nodes(qe.executedPlan).foreach {
          case w: DataWritingCommandExec => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              val path = i.outputPath.toString
              if (path.contains("/batch=")) data.add(path -> w.child)
            case _ =>
          }
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      op
      spark.range(1).toDF(marker).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker query never reached the listener")
    } finally spark.listenerManager.unregister(listener)
    data.toArray(Array.empty[(String, SparkPlan)]).toSeq
  }

  private def isBucketHash(e: ShuffleExchangeLike): Boolean = e.outputPartitioning match {
    case HashPartitioning(Seq(a: Attribute), _) => a.name == "bucket"
    case _ => false
  }

  test("table writes hash-distribute by bucket exactly once per written frame: bootstrap and compact") {
    import graft.plans.Materialize
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-plan-table").toString
    val boot = tableWrites(
      Materialize.runResumable(spark, PageGen.pages(spark, 40, partitions = 8), dir, 8))
    Materialize.incrementalUpdate(spark,
      spark.createDataset((0L until 8L).map(i => TripleFixtures.recrawl(i, 500 + i, 1))),
      dir, 8, mergeOnRead = true)
    val comp = tableWrites(Materialize.compact(spark, dir))
    assert(boot.size == 1, s"bootstrap writes: ${boot.map(_._1)}")
    assert(comp.size == 2, s"compact writes: ${comp.map(_._1)}")
    (boot ++ comp).foreach { case (path, plan) =>
      val n = exchanges(plan).count(isBucketHash)
      assert(n == 1, s"$path: $n hashpartitioning(bucket) exchanges, expected exactly 1:\n$plan")
    }
  }

  test("relational queries stay inside whole-stage codegen") {
    val df = SparkEntry.queries(scope)("q8_filter_project")(spark, "/root/testdata/sf0.001")
    df.collect() // finalize the adaptive plan (codegen spans appear in the final plan)
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in the compact plan string
    assert(plan.contains("*(1)"), s"no codegen span:\n$plan")
  }
}
