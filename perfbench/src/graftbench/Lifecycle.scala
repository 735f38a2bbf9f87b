package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.catalog.{CatalogIO, ColumnProfile, DataSpec, NormType}
import graft.eval.Eval
import graft.pipeline.Pipeline
import graft.score.Score
import graft.sources.Delimited
import graft.train.Train

/** Shifu's own batch path, one pass per model build: init (auto-typing)
  * → stats → varsel → norm → train → eval → export over `|`-delimited
  * string columns with `?` and empty missing sentinels. */
final class Lifecycle(spark: SparkSession, in: String, work: String)
    extends Workload {
  private val t = Json.read(s"$in/truth.json")
  private val header = Json.strs(t.get("header"))
  private val candidates = Json.strs(t.get("candidates"))
  private val spec = DataSpec(targetColumn = "tag", posTags = Set("1"),
    negTags = Set("0"))
  private val isPos = col("tag") === 1

  def rowsPerPass: Long = t.get("input_rows").asLong()

  private final case class Out(num: Seq[String], cat: Seq[String],
      catalog: Seq[ColumnProfile], feats: Seq[String],
      sweep: Seq[(Long, Long, Long, Long)], auc: Double, prAuc: Double,
      pmml: String)
  private var last: Option[Out] = None
  private val aucs = collection.mutable.ArrayBuffer.empty[Double]

  def pass(p: Int, ctx: Ctx): Unit = {
    val dir = s"$work/pass$p"
    val (clean, num, cat) = ctx.call("lifecycle.autotype") {
      val raw = Pipeline.init(
        Delimited.read(spark, s"$in/data", "|", header), spec)
      val (num, cat) = Pipeline.autoColumns(raw, candidates)
      // the stats operators take numeric columns typed; the reader leaves
      // every column a string, so the columns typed N are parsed leniently
      val clean = raw.select(raw.columns.toSeq.map(c =>
        if (num.contains(c)) expr(s"try_cast(`$c` AS double)").as(c)
        else col(c)): _*)
      (clean, num, cat)
    }
    val profiled = ctx.call("lifecycle.stats") {
      Pipeline.stats(clean, spec, num, cat)
    }
    val catalog = ctx.call("lifecycle.varsel") {
      Pipeline.autoFilter(clean, profiled, t.get("topn").asInt())
    }
    ctx.call("lifecycle.norm") {
      Pipeline.norm(clean, spec, catalog, NormType.ZScale)
        .write.parquet(s"$dir/norm")
    }
    val feats = catalog.filter(_.finalSelect).map(p => s"n_${p.columnName}")
    val (normed, trained) = ctx.call("lifecycle.train") {
      val normed: DataFrame = spark.read.parquet(s"$dir/norm")
      (normed, Train.logistic(normed, feats, isPos))
    }
    val (model, sweep, auc, prAuc) = ctx.call("lifecycle.eval") {
      val model = Train.toLinear(trained, feats)
      val sweep = Eval.confusionSweep(normed, model.score, isPos,
        feats.map(col))
      val rows = sweep.collect().toSeq.map(r =>
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      (model, rows, Eval.rocAuc(sweep).head().getDouble(0),
        Eval.prAuc(sweep).head().getDouble(0))
    }
    val pmml = ctx.call("lifecycle.export") {
      CatalogIO.write(s"$dir/ColumnConfig.json", catalog)
      val pmml = Score.exportPmml(Seq(model))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/model.pmml"), pmml)
      pmml
    }
    last = Some(Out(num, cat, catalog, feats, sweep, auc, prAuc, pmml))
  }

  def check(p: Int, ctx: Ctx): Unit = last.foreach { o =>
    val keptRows = t.get("kept_rows").asLong()
    val keptPos = t.get("kept_pos").asLong()
    val missing = t.get("missing")
    val signals = Json.strs(t.get("signal_numeric")) :+
      t.get("signal_categorical").asText()
    ctx.check("autotype.signal_numeric",
      Json.strs(t.get("signal_numeric")).forall(o.num.contains),
      s"numeric ${o.num}")
    ctx.check("autotype.categorical",
      Json.strs(t.get("categorical")).forall(o.cat.contains),
      s"categorical ${o.cat}")
    val byName = o.catalog.map(c => c.columnName -> c).toMap
    ctx.check("catalog.columns", candidates.forall(byName.contains),
      s"catalog holds ${byName.keys.toSeq.sorted}")
    val badCounts = candidates.filter(byName.contains).filterNot { c =>
      val s = byName(c).stats
      s.totalCount == keptRows && s.missingCount == missing.get(c).asLong()
    }
    ctx.check("catalog.counts", badCounts.isEmpty,
      badCounts.map { c => val s = byName(c).stats
        s"$c total ${s.totalCount}/$keptRows missing ${s.missingCount}/" +
          s"${missing.get(c).asLong()}" }.mkString("; "))
    val selected = o.catalog.filter(_.finalSelect).map(_.columnName)
    // the redundancy screen keeps exactly one of a planted |corr| > 0.9
    // pair; which one depends on the sample's KS, so either is right
    val pair = Seq(t.get("redundant_of").asText(), t.get("redundant").asText())
    ctx.check("varsel.planted_selected",
      signals.filterNot(pair.contains).forall(selected.contains),
      s"selected $selected, planted $signals")
    ctx.check("varsel.redundant_pair", pair.count(selected.contains) == 1,
      s"selected $selected, redundant pair $pair")
    ctx.check("varsel.missing_dropped",
      !selected.contains(t.get("mostly_missing").asText()),
      s"selected $selected")
    val (tp, fp, fn, tn) = o.sweep.head
    ctx.check("eval.counts", tp + fp + fn + tn == keptRows && tp + fn == keptPos,
      s"sweep tp $tp fp $fp fn $fn tn $tn, kept $keptRows pos $keptPos")
    val floor = t.get("oracle_auc").asDouble() - 0.05
    ctx.check("eval.auc_floor", o.auc >= floor, f"auc ${o.auc}%.4f < $floor%.4f")
    ctx.check("export.pmml", o.feats.forall(f => o.pmml.contains(s"\"$f\"")),
      "pmml lacks a selected feature")
    aucs += o.auc
    ()
  }

  def report(ctx: Ctx): (Map[String, Double], Double) = {
    val auc = Stats.median(aucs.toSeq)
    (Map("model_auc" -> auc, "oracle_auc" -> t.get("oracle_auc").asDouble(),
      "pr_auc" -> last.get.prAuc), auc)
  }
}
