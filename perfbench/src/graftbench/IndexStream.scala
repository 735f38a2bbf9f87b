package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{AnnIngest, StreamOps}

/** Writes beside reads on the two persisted indexes. One pass is one
  * cycle of both streams, which keep running across passes, so the
  * indexes grow with every pass:
  *  - the dedup admission gate (`StreamOps.dedupIngestStream`) gets the
  *    cycle's batches — clean ones, one bearing repeats of earlier
  *    batches, and the compacting one — then a takedown (`retractDocs`);
  *  - the ANN index (`AnnIngest.annIngestStream`) gets the cycle's vector
  *    batches, the last one compacting with split and fold heals armed;
  *    then the cycle's `queryTopK` and a `delete` of pre-drift vectors. */
final class IndexStream(spark: SparkSession, in: String, work: String)
    extends Workload {
  private val t = Json.read(s"$in/truth.json")
  private val gateBatches = t.get("gate_batches").asInt()
  private val annBatches = t.get("ann_batches").asInt()
  private val k = t.get("k").asInt()
  private val batchClass = Json.strs(t.get("batch_class"))
  // (repeat doc, source doc, kind) by gate batch
  private val repeats: Map[Int, Seq[(Long, String)]] =
    Json.seq(t.get("repeats")).map(r =>
      (r.get(3).asInt(), (r.get(0).asLong(), r.get(2).asText())))
      .groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2) }
  private val exactTopK = Json.seq(t.get("exact_topk")).map(Json.longs)

  import spark.implicits._
  private implicit val sqlCtx: SQLContext = spark.sqlContext

  // inputs held in driver memory, read before the first pass
  private val streamIn = Json.read(s"$in/stream.json")
  private def groups[T](key: String)(f: JsonNode => T): Vector[Seq[T]] =
    Json.seq(streamIn.get(key)).map(g => Json.seq(g).map(f)).toVector
  private def doc(n: JsonNode) = (n.get(0).asLong(), n.get(1).asText())
  private def vec(n: JsonNode) =
    (n.get(0).asLong(), Json.seq(n.get(1)).map(_.asDouble()))
  private val gateIn = groups("gate")(doc)
  private val retractIn = groups("retract")(doc)
  private val annIn = groups("ann")(vec)
  private val queryIn = groups("queries")(vec)
  private val deleteIn = groups("deletes")(_.asLong())
  private val annBytesPerCycle =
    annIn(0).map(_._2.length * 8L).sum * annBatches

  private val gateIdx = s"$work/gate_idx"
  private val gateOut = s"$work/gate_out"
  private val annIdx = s"$work/ann_idx"
  private val gateStream = MemoryStream[(Long, String)]
  private val annStream = MemoryStream[(Long, Seq[Double])]
  private var gateQ: Option[StreamingQuery] = None
  private var annQ: Option[StreamingQuery] = None

  def rowsPerPass: Long = t.get("input_rows_per_cycle").asLong()
  override def maxPasses: Int = t.get("cycles").asInt()

  private val answers = mutable.Map.empty[Int, Array[(Long, Long)]]
  private var cyclesRun = 0

  def pass(c: Int, ctx: Ctx): Unit = {
    if (gateQ.isEmpty) {
      gateQ = Some(StreamOps.dedupIngestStream(
        gateStream.toDF().toDF("doc_id", "text"), gateIdx, gateOut,
        checkpoint = Some(s"$work/gate_ckpt"), compactEvery = gateBatches))
      annQ = Some(AnnIngest.annIngestStream(
        annStream.toDF().toDF("vec_id", "embedding"), annIdx,
        checkpoint = Some(s"$work/ann_ckpt"), nCells = 16,
        compactEvery = annBatches, splitSkewAbove = 4.0,
        foldColdBelow = 0.25))
    }
    for (b <- 0 until gateBatches) {
      val g = c * gateBatches + b
      ctx.call(s"gate.${batchClass(g)}_batch") {
        gateStream.addData(gateIn(g))
        gateQ.get.processAllAvailable()
      }
    }
    ctx.call("gate.retract") {
      StreamOps.retractDocs(retractIn(c).toDF("doc_id", "text"),
        gateIdx, s"c$c")
    }
    for (b <- 0 until annBatches) {
      val a = c * annBatches + b
      ctx.call(if ((a + 1) % annBatches == 0) "ann.compact_batch"
               else "ann.batch") {
        annStream.addData(annIn(a))
        annQ.get.processAllAvailable()
      }
    }
    answers(c) = ctx.call("ann.query") {
      AnnIngest.queryTopK(spark, annIdx,
          queryIn(c).toDF("vec_id", "embedding"), k, nProbe = 4)
        .select("vec_id", "nb_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    ctx.call("ann.delete") {
      AnnIngest.delete(spark, annIdx, deleteIn(c).toDF("vec_id"), s"c$c")
    }
    cyclesRun = c + 1
  }

  private var tp, fp, fn = 0L
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val deletedBefore = mutable.Set.empty[Long]

  def check(c: Int, ctx: Ctx): Unit = {
    val batches = (0 until gateBatches).map(b => c * gateBatches + b)
    val decisions = spark.read
      .parquet(batches.map(g => s"$gateOut/batch=$g"): _*)
      .select("doc_id", "dup_exact", "kept").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    ctx.check("gate.decisions", decisions.size == gateBatches *
      t.get("gate_docs").asInt(), s"${decisions.size} decisions in cycle $c")
    val planted = batches.flatMap(g => repeats.getOrElse(g, Nil))
    val missed = planted.filter { case (d, kind) =>
      kind == "exact" && !decisions.get(d).exists(_._1) }
    ctx.check("gate.exact_repeats_flagged", missed.isEmpty,
      s"${missed.size} exact repeats admitted in cycle $c")
    val dupIds = planted.map(_._1).toSet
    decisions.foreach { case (d, (_, kept)) =>
      if (!kept && dupIds(d)) tp += 1
      else if (!kept) fp += 1
      else if (dupIds(d)) fn += 1
    }
    val got = answers(c)
    val leaked = got.count { case (_, nb) => deletedBefore(nb) }
    ctx.check("ann.deleted_never_returned", leaked == 0,
      s"$leaked deleted ids returned in cycle $c")
    val qIds = queryIn(c).map(_._1)
    val byQ = got.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    ctx.check("ann.query_rows", byQ.size == qIds.length,
      s"answers for ${byQ.size} of ${qIds.length} queries")
    recalls ++= qIds.indices.map { i =>
      exactTopK(c * qIds.length + i)
        .count(byQ.getOrElse(qIds(i), Set.empty[Long])).toDouble / k
    }
    deletedBefore ++= deleteIn(c)
  }

  private def dirSize(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(p).filter(
        java.nio.file.Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (files.length.toLong, files.map(java.nio.file.Files.size).sum)
    }
  }

  private def calls(ctx: Ctx, names: String*): Seq[Double] =
    names.flatMap(n => ctx.callMs.getOrElse(n, Nil).toSeq)

  def report(ctx: Ctx): (Map[String, Double], Double) = {
    val f1 = 2.0 * tp / math.max(1, 2 * tp + fp + fn)
    val recall = Stats.median(recalls.toSeq)
    val (_, gateBytes) = dirSize(gateIdx)
    val (_, annBytes) = dirSize(annIdx)
    val inputBytes = cyclesRun * (t.get("gate_text_bytes").asLong() /
      t.get("cycles").asLong() + annBytesPerCycle)
    val out = mutable.LinkedHashMap[String, Double](
      "dedup_f1" -> f1, "ann_recall" -> recall,
      "space_amp" -> (gateBytes + annBytes).toDouble / inputBytes)
    Seq("gate_batch" -> calls(ctx, "gate.clean_batch", "gate.dup_batch",
        "gate.compact_batch"),
      "ann_batch" -> calls(ctx, "ann.batch", "ann.compact_batch"),
      "query" -> calls(ctx, "ann.query")).foreach { case (n, xs) =>
      if (xs.nonEmpty) {
        val (v, pct, cnt) = Stats.tail(xs)
        out(s"${n}_p50_ms") = Stats.median(xs)
        out(s"${n}_tail_ms") = v
        out(s"${n}_tail_pct") = pct
        out(s"${n}_n") = cnt.toDouble
      }
    }
    (out.toMap, f1 * recall)
  }

  override def layerExtras(ctx: Ctx, steadyTraced: Set[Int])
      : Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val ids = Map(gateQ.get.id.toString -> ("gate", gateBatches),
      annQ.get.id.toString -> ("ann", annBatches))
    ctx.tracer.allTriggers.groupBy(tr => ids(tr.queryId)).foreach {
      case ((stream, perCycle), trs) =>
        // batches of the steady traced passes only
        val steady = trs.filter(tr => steadyTraced((tr.batchId / perCycle).toInt))
        if (steady.nonEmpty) out(s"$stream.trigger_overhead_ms") =
          Stats.median(steady.map(tr => (tr.triggerMs - tr.addBatchMs).toDouble))
    }
    // flat cost as the index grows: the latest quarter (at least one) of
    // the steady plain batches over the earliest, in pass order
    Seq("gate" -> "gate.clean_batch", "ann" -> "ann.batch").foreach {
      case (stream, name) =>
        val xs = ctx.callMs.getOrElse(name, Nil).toSeq
        val q = (xs.length + 3) / 4
        if (xs.length >= 2) out(s"$stream.history_ratio") =
          xs.takeRight(q).sum / xs.take(q).sum
    }
    Seq("gate" -> gateIdx, "ann" -> annIdx).foreach { case (stream, dir) =>
      val (files, bytes) = dirSize(dir)
      out(s"$stream.index_files") = files.toDouble
      out(s"$stream.index_bytes") = bytes.toDouble
    }
    out("ann.live_cells") = AnnIngest.liveCellCount(spark, annIdx).toDouble
    out.toMap
  }

  override def close(): Unit = {
    gateQ.foreach(_.stop())
    annQ.foreach(_.stop())
  }
}
