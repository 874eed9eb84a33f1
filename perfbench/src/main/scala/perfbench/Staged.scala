package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.calibration.JecChain
import graft.core.SchemaOps
import graft.hist.{Axis, HistTable}
import graft.lookup.Payload
import graft.ops.{Reducers, SelectionResult, Selector}
import graft.pipeline.{Pipeline, Shift}
import graft.queries.Nested
import graft.registry.{AnalysisConfig, Category, Process, Variable}
import graft.stats.Stitching

/** A columnflow-style analysis built from the library's public API, in the
  * shape of `TemplateAnalysisSpec`: calibrate → select → reduce → produce →
  * hist, every stage a finite-guarded `Pipeline.stageChecked` checkpoint,
  * select and everything downstream expanded over the nominal and jec
  * up/down shifts.
  *
  * One pass runs three operations on one checkpoint root:
  *   - cold: empty root, every stage is built and written;
  *   - resume: same root and versions, every stage is skipped and the final
  *     histogram is read back;
  *   - partial: select and downstream get a new version string, so they are
  *     rebuilt while calibrate is reused. */
final class Staged(spark: SparkSession, dir: String, root: String) {
  import Staged._

  private val cfg = AnalysisConfig(
    datasets = Nil,
    processRoot = Process(0, "all", children = Seq(Process(1, "urgent"), Process(2, "other"))),
    categoryRoot = Category(0, "all", children = Seq(
      Category(1, "low_value", "o_totalprice <= 150000"),
      Category(2, "high_value", "o_totalprice > 150000"))),
    variables = Seq(Variable("lead_pt", "GoodItem[0].pt",
      Axis.Regular("lead_pt", 20, 0.0, 100000.0), nullValue = Some(-1.0))),
    shifts = shifts)

  private val corrections = Payload.parse(PayloadJson)
  private val chain = JecChain(
    levels = Seq(corrections("L1"), corrections("L2")),
    uncSources = Seq("jec" -> corrections("JecUnc")))

  private def events: DataFrame =
    Nested.nestedOrders(spark, dir, Seq("l_extendedprice", "l_discount", "l_quantity"))

  private def calibrate(ev: DataFrame): DataFrame =
    SchemaOps.mapCollection(ev, "items", it => {
      val r = chain(chain.undoRaw(it.getField("l_extendedprice"), it.getField("l_discount")))
      Map("pt" -> r.pt, "pt_raw" -> r.ptRaw) ++ r.shifts.map { case (n, c) => s"pt_$n" -> c }
    })

  private object hardItems extends Selector {
    val name = "hard_items"
    override def uses = Set[graft.ops.Dep]("items.pt", "o_totalprice")
    def select(df: DataFrame): SelectionResult = SelectionResult(
      steps = Map(
        "has_hard" -> exists(col("items"), _.getField("pt") >= HardPt),
        "valued" -> (col("o_totalprice") > MinPrice)),
      objects = Map("items" -> Map("GoodItem" ->
        filter(
          transform(col("items"), (it, i) =>
            struct(i.as("i"), (it.getField("pt") >= HardPt).as("ok"))),
          _.getField("ok")).getField("i"))))
  }

  private val leafOf: Column =
    when(col("o_orderpriority") === "1-URGENT", "urgent").otherwise("other")

  /** Normalization weights from the stitching solve over the selected
    * events' per-leaf Σ o_totalprice (a driver-side collect, as in the
    * reference's stats-then-normalize flow). */
  private def weighted(df: DataFrame): DataFrame = {
    val stats = df.groupBy(leafOf.as("leaf"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("sumw"))
      .collect().map(r => r.getString(0) -> BigDecimal(r.getDecimal(1))).toMap
    val br = Stitching.branchingRatios(cfg.processRoot.stitchingTree, stats)
    val lut = map(br.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq(lit(k), lit(1000.0 * v)) }: _*)
    df.withColumn("weight", element_at(lut, leafOf))
  }

  private def fillHist(produced: DataFrame, shift: String): DataFrame = {
    val v = cfg.variable("lead_pt")
    HistTable.fill(produced.withColumn("cat", explode(cfg.categoryIds)),
      Seq(v.axis -> v.column, Axis.Integer("cat", 0, 10) -> col("cat")),
      weight = col("weight"))
      .withColumn("shift", lit(shift))
  }

  /** Run the analysis once against the checkpoint root. `gen` versions
    * select and downstream; `onCall` wraps each stage call. Returns the
    * final histogram, collected and sorted. */
  def run(gen: Int, calls: mutable.ArrayBuffer[Call],
          onCall: (String, String) => (=> DataFrame) => DataFrame): Seq[Row] = {
    val pipe = new Pipeline(spark, root)
    def stage(name: String, shift: Shift, version: String)(build: => DataFrame): DataFrame = {
      val path = if (shift == null) name else s"$name/shift=${shift.name}"
      var built = false
      val t0 = System.nanoTime()
      val df = onCall(name, path) {
        pipe.stageChecked(path, version, checkFinite = true) { built = true; build }
      }
      calls += Call(name, Option(shift).map(_.name).getOrElse(""), built,
        (System.nanoTime() - t0) / 1e9)
      df
    }
    val v = s"v$gen"
    val calibrated = stage("calibrate", null, "cal-1")(calibrate(events))
    val hists = shifts.map { s =>
      val shifted = s(calibrated)
      val selected = stage("select", s, v) {
        val r = hardItems.select(shifted)
        shifted.select(col("o_orderkey") +: r.columns: _*)
      }
      val reduced = stage("reduce", s, v) {
        Reducers.default(
          shifted.join(selected, "o_orderkey"),
          SelectionResult(
            steps = Map("event" -> col("event")),
            objects = Map("items" -> Map("GoodItem" -> col("objects.items.GoodItem")))))
          .select("o_orderkey", "o_totalprice", "o_orderpriority", "GoodItem")
      }
      val produced = stage("produce", s, v) {
        weighted(reduced).select(col("o_orderkey"), col("o_totalprice"),
          col("weight"), col("GoodItem"))
      }
      stage("hist", s, v)(fillHist(produced, s.name))
    }
    hists.reduce(_ unionByName _).collect().toSeq.sortBy(_.toString)
  }

  /** Independent Σweights of the nominal selected events, computed from the
    * raw input without checkpoints, the Selector or the Reducer. */
  def independentSumw(): Double = {
    val sel = calibrate(events)
      .filter(exists(col("items"), _.getField("pt") >= HardPt) && col("o_totalprice") > MinPrice)
    weighted(sel).agg(sum(col("weight").cast("decimal(18,4)")).cast("double")).head().getDouble(0)
  }
}

object Staged {
  /** One `stage(...)` call as the harness saw it. */
  final case class Call(stage: String, shift: String, built: Boolean, wallS: Double)

  val HardPt = 20000.0
  val MinPrice = 20000.0
  val shifts: Seq[Shift] = Shift.Nominal +: Shift.pair("jec", "items.pt")

  val PayloadJson: String = """{
    "corrections": [
      {"name": "L1", "version": 1, "inputs": [{"name": "JetPt", "type": "real"}],
       "data": {"nodetype": "binning", "input": "JetPt",
         "edges": [0.0, 10000.0, 40000.0, 1000000.0],
         "content": [1.03, 1.015, 1.005], "flow": "clamp"}},
      {"name": "L2", "version": 1, "inputs": [{"name": "JetPt", "type": "real"}],
       "data": {"nodetype": "binning", "input": "JetPt",
         "edges": [0.0, 25000.0, 1000000.0],
         "content": [0.99, 1.01], "flow": "clamp"}},
      {"name": "JecUnc", "version": 1, "inputs": [{"name": "JetPt", "type": "real"}],
       "data": {"nodetype": "binning", "input": "JetPt",
         "edges": [0.0, 30000.0, 1000000.0],
         "content": [0.04, 0.02], "flow": "clamp"}}
    ]
  }"""
}
