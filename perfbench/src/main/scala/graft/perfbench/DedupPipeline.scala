package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.examples.PipelineDemo
import graft.ml.{CAIMDiscretizer, CAIMDiscretizerModel}
import graft.operators.{Components, Dedup, Tracked}
import graft.queries.{Llm, TextAnalysis}

/** dedup_pipeline: the training-data pipeline of PipelineDemo on sf0.1 —
  * cleanCorpus (exact and near-duplicate removal, boilerplate cut,
  * annotation joins) and discretizedFeatures (a CAIM fit and transform) —
  * plus the oracle-checked dedup_jaccard query. The exact pair kernel
  * dominates its time. */
final class DedupPipeline(ctx: Ctx) extends Workload {
  import ctx.tracer.span
  private val sf = ctx.sf("0.1")
  private var embeddings = 0L
  /** Rows of the persisted pair-edge table, per traced clean_corpus op. */
  private var pairsOut = 0L
  /** Outputs of PipelineDemo's own functions, from the warm pass. */
  private var demoDocs = Seq.empty[Long]
  private var demoFeatures = Seq.empty[Row]
  /** Reference histograms of e0 and e1 against the label, and the
    * boundaries the reference CAIM fits to them. */
  private var featureHists = Seq.empty[CaimReference.Hist]
  private var featureBounds = Seq.empty[Array[Double]]
  private var cuts = 0

  def generate(): Unit = {
    val rows = embeddingFeatures().collect()
    embeddings = rows.length
    featureHists = Seq(1, 2).map(f => CaimReference.hist(
      rows.map(r => (r.getDouble(f), r.getInt(3))).toSeq))
    featureBounds = featureHists.map(CaimReference.fit)
  }

  private def embeddingFeatures(): DataFrame =
    graft.T.t(ctx.spark, sf, "embeddings").select(col("vec_id"),
      element_at(col("embedding"), 1).cast("double").as("e0"),
      element_at(col("embedding"), 2).cast("double").as("e1"), col("label"))

  /** PipelineDemo.discretizedFeatures with the CAIM fit and transform as
    * spans: the model and the discretized rows. */
  def features(): (CAIMDiscretizerModel, DataFrame) = {
    val emb = embeddingFeatures()
    val model = span("ml", "fit") {
      new CAIMDiscretizer().setInputCols(Array("e0", "e1")).setOutputCols(Array("b0", "b1"))
        .setLabelCol("label").fit(emb)
    }
    (model, model.transform(emb).select("vec_id", "label", "b0", "b1").orderBy("vec_id"))
  }

  /** The fitted boundaries against the reference CAIM, and the saved bins
    * against the bins those boundaries give every row. */
  private def checkFeatures(model: CAIMDiscretizerModel, path: String): Option[String] = {
    val fit = featureHists.indices.collectFirst(Function.unlift { f =>
      CaimReference.compare(featureHists(f), featureBounds(f), model.boundaries(f))
        .map(m => s"e$f: $m")
    })
    fit.orElse {
      val r = ctx.spark.read.parquet(path).agg(count(lit(1)), sum("b0"), sum("b1")).head()
      val got = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      val want = (embeddings, CaimReference.binSum(featureHists(0), model.boundaries(0)),
        CaimReference.binSum(featureHists(1), model.boundaries(1)))
      if (got == want) None else Some(s"(rows, sum b0, sum b1) = $got, expected $want")
    }
  }

  /** PipelineDemo.cleanCorpus, stage by stage, so each stage's call is a
    * span. Its output must equal PipelineDemo.cleanCorpus's own. */
  def cleanCorpus(tr: Tracked): DataFrame = {
    val s = ctx.spark
    val docs = graft.T.t(s, sf, "documents")
    val exactSurvivors = docs
      .withColumn("h", md5(col("text").cast("binary")))
      .withColumn("keep", min(col("doc_id")).over(Window.partitionBy("h")))
      .where(col("doc_id") === col("keep"))
      .drop("h", "keep")
    val pairs = span("llm", "pairs") {
      val p = Llm.clusterEdges(docs, 0.5, tr)
      // traced runs materialize the persisted edges here, so the pair
      // kernel's jobs attribute to this span instead of the next one
      if (ctx.measuring) pairsOut += p.count()
      p
    }
    val clusters = span("llm", "components")(Components.connected(pairs, "da", "db", tr))
    val deduped = span("llm", "survivors")(Dedup.survivors(exactSurvivors, clusters))
    val bp = span("llm", "boilerplate") {
      TextAnalysis.boilerplateStats(deduped.select("doc_id", "text"), hashKeys = true, tr)
        .select(col("doc_id"), col("shared_frac"))
    }
    val quality = TextAnalysis.queries("text_quality")(s, sf)
      .select("doc_id", "quality", "stop_ratio")
    val lang = TextAnalysis.queries("text_langid")(s, sf).select("doc_id", "pred")
    val toks = TextAnalysis.queries("text_tokens")(s, sf).select("doc_id", "ws_toks")
    val fp = TextAnalysis.queries("text_fingerprint")(s, sf)
    deduped
      .join(quality, "doc_id").join(lang, "doc_id").join(toks, "doc_id").join(fp, "doc_id")
      .join(bp, Seq("doc_id"), "left")
      .withColumn("shared_frac", coalesce(col("shared_frac"), lit(0.0)))
      .where(col("quality") >= 0.3 && col("shared_frac") < 0.95)
      .orderBy("doc_id")
  }

  /** Runs PipelineDemo's own functions on sf0.1 once, untimed: they warm
    * the JIT on the sizes the timed ops see, and their outputs are what
    * every timed stage-by-stage copy must reproduce. */
  def warm(): Unit = {
    val tr = new Tracked
    demoDocs = docIds(ctx.save(PipelineDemo.cleanCorpus(ctx.spark, sf, tr), "warm/clean_corpus"))
    tr.release()
    demoFeatures = rows(ctx.save(PipelineDemo.discretizedFeatures(ctx.spark, sf), "warm/features"))
    ctx.force(SparkEntry.queries("dedup_jaccard")(ctx.spark, sf))
  }

  private def docIds(path: String): Seq[Long] =
    ctx.spark.read.parquet(path).select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  private def rows(path: String): Seq[Row] =
    ctx.spark.read.parquet(path).orderBy("vec_id").collect().toSeq

  val passSeconds = 18.0

  /** The ops in a fixed order: the corpus is fixed, and an order that
    * changed with the seed would move the JIT warm-up cost between ops. */
  def pass(p: Int): Seq[Op] = Seq(
    Op("clean_corpus", () => {
      val tr = new Tracked
      val i = ctx.opIndex
      val path = span("llm", "annotate")(ctx.save(cleanCorpus(tr), s"op$i"))
      ctx.deferred += Deferred("no_dup", "clean_corpus", path, sf,
        SparkEntry.oracleSql("dedup_jaccard"), i)
      () => {
        tr.release()
        val got = docIds(path)
        if (got == demoDocs) None
        else Some(s"${got.size} docs, PipelineDemo.cleanCorpus gives ${demoDocs.size}")
      }
    }),
    Op("discretized_features", () => {
      val (model, out) = features()
      val path = span("ml", "transform")(ctx.save(out, s"op${ctx.opIndex}"))
      () => {
        cuts = model.boundaries.map(_.length - 2).sum
        checkFeatures(model, path).orElse(
          if (rows(path) == demoFeatures) None
          else Some("rows differ from PipelineDemo.discretizedFeatures"))
      }
    }),
    Op("dedup_jaccard", () => {
      val i = ctx.opIndex
      val df = span("queries", "build")(SparkEntry.queries("dedup_jaccard")(ctx.spark, sf))
      val path = span("queries", "force")(ctx.save(df, s"op$i"))
      ctx.deferred += Deferred("oracle", "dedup_jaccard", path, sf,
        SparkEntry.oracleSql("dedup_jaccard"), i)
      Op.ok
    }))

  override def facts: Seq[(String, String)] = Seq(
    "embeddings" -> embeddings.toString,
    "pairs_out" -> pairsOut.toString,
    "candidates" -> featureHists.map(_.values.length).sum.toString, "cuts" -> cuts.toString)
}
