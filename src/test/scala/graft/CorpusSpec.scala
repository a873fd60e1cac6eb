package graft

import graft.model.Ent
import graft.operators.Corpus
import graft.plans.Pipeline
import graft.sources.{ChemDict, PageGen}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S8/F7/F8/P4 corpus-tooling semantics. */
class CorpusSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  test("F7: doi <-> filename escaping round-trips (corpus.py:201,131)") {
    val doi = "10.5555/synth.42"
    assert(Corpus.doiToFilename(doi) == "10.5555_-synth.42")
    assert(Corpus.filenameToDoi(Corpus.doiToFilename(doi)) == doi)
    // injectivity on underscore-bearing DOIs (the reference's '/'<->'_'
    // mapping collides here — documented deviation)
    val tricky = Seq("10.1234/ab_cd", "10.1234_ab/cd", "a_/b", "a/_b",
      "a__b", "a//b", "plain", "x_-y")
    tricky.foreach { d =>
      assert(Corpus.filenameToDoi(Corpus.doiToFilename(d)) == d, s"round-trip $d")
      assert(!Corpus.doiToFilename(d).contains("/"))
    }
    assert(tricky.map(Corpus.doiToFilename).distinct.size == tricky.size)
  }

  test("F8: masking replaces entity text by label and reindexes offsets (parse_data.py:76-87)") {
    val text = "The melting point of water is 97.3 K."
    def ent(s: Int, e: Int, label: String) =
      Ent(0, 0, s, e, text.substring(s, e), label, "", Double.NaN, "")
    val ents = Array(
      ent(4, 17, "PROP"), // "melting point"
      ent(21, 26, "CHEM"), // "water"
      ent(30, 36, "TEMPERATURE")) // "97.3 K"
    val (masked, mEnts) = Corpus.mask(text, ents)
    assert(masked == "The PROP of CHEM is TEMPERATURE.")
    mEnts.foreach { e =>
      assert(masked.substring(e.startChar, e.endChar) == e.label)
    }
  }

  test("S8 cv: stratified k-fold balances folds and preserves class ratio (parse_data.py:236-250)") {
    val names = ChemDict.entries.flatMap(_.synonyms)
    val sents = Pipeline.annotate(Pipeline.sentences(PageGen.pages(spark, 400)), names)
    val kf = Corpus.kfoldStratified(sents, k = 5).cache()
    val total = kf.count().toDouble
    // 5 folds, roughly equal size
    val folds = kf.groupBy("fold_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(folds.keySet == (0 until 5).toSet)
    folds.values.foreach(n => assert(n / total > 0.12 && n / total < 0.28, folds.toString))
    // class ratio per fold within +-10pp of the global ratio
    val globalPos = kf.filter(col("stratum") === 1).count() / total
    (0 until 5).foreach { f =>
      val fold = kf.filter(col("fold_id") === f)
      val pos = fold.filter(col("stratum") === 1).count().toDouble / fold.count()
      assert(math.abs(pos - globalPos) < 0.10, s"fold $f ratio $pos vs global $globalPos")
    }
    // heldout roles split ~50/50 and are deterministic
    val roles = kf.groupBy("heldout_role").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roles.keySet == Set("dev", "test"))
    assert(math.abs(roles("dev") - roles("test")) < total * 0.2)
    kf.unpersist()
  }

  test("S8+P4: split drops un-annotated sentences and lands near 0.8/0.1/0.1") {
    val names = ChemDict.entries.flatMap(_.synonyms)
    val sents = Pipeline.annotate(Pipeline.sentences(PageGen.pages(spark, 300)), names)
    val folds = Corpus.split(sents).groupBy("fold").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = folds.values.sum.toDouble
    assert(folds.keySet == Set("train", "dev", "test"))
    assert(folds("train") / total > 0.7 && folds("train") / total < 0.9)
    assert(folds("dev") / total > 0.05 && folds("dev") / total < 0.15)
    assert(folds("test") / total > 0.05 && folds("test") / total < 0.15)
    // P4: no empty-entity rows survive
    assert(Corpus.split(sents).filter(size(col("ents")) === 0).count() == 0)
    // determinism: same fold assignment at different parallelism
    val sents8 = Pipeline.annotate(
      Pipeline.sentences(PageGen.pages(spark, 300, partitions = 8)), names)
    val a = Corpus.split(sents).select("url", "sentId", "fold")
      .collect().map(_.toString).sorted
    val b = Corpus.split(sents8).select("url", "sentId", "fold")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("S8 sink: writeSplits partitions by fold and reads back with split's per-fold counts") {
    val names = ChemDict.entries.flatMap(_.synonyms)
    val sents = Pipeline.annotate(Pipeline.sentences(PageGen.pages(spark, 100)), names)
    val dir = java.nio.file.Files.createTempDirectory("graft-splits").toString
    Corpus.writeSplits(sents, s"$dir/out")
    // one fold=<name> directory per fold, the fold column restored from it
    val dirs = new java.io.File(s"$dir/out").list().filter(_.startsWith("fold=")).toSet
    assert(dirs == Set("fold=train", "fold=dev", "fold=test"))
    def perFold(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy("fold").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val back = spark.read.parquet(s"$dir/out")
    assert(perFold(back) == perFold(Corpus.split(sents)))
    val key = Seq("url", "sentId", "fold").map(col)
    assert(back.select(key: _*).collect().map(_.toString).sorted
      .sameElements(Corpus.split(sents).select(key: _*).collect().map(_.toString).sorted))
  }
}
