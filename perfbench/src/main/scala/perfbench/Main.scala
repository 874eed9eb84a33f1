package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.core.Tables
import graft.queries.Registry

/** JVM side of the benchmark. `run.py` builds the inputs and calls
  *
  *   perfbench.Main gendata --out DIR --sf SF
  *   perfbench.Main run --workload W --inputs DIR --seconds S --trace 0|1 ...
  *
  * `run` sets up a session, warms up untimed (also writing what the output
  * checks need), then times whole passes until `--seconds` have elapsed, and
  * writes a raw JSON record for `run.py` to reduce. */
object Main {
  def main(args: Array[String]): Unit = {
    val clock = new Clock
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts("mode") match {
      case "gendata" => graft.GenData.main(Array(opts("out"), opts("sf")))
      case "run" => new Harness(opts, clock).run()
      case m => sys.error(s"unknown mode $m")
    }
  }
}

object Harness {
  /** One timed operation: a query, or a staged cold/resume/partial. */
  final case class Op(pass: Int, kind: String, name: String, wallS: Double,
                              error: String, extra: Map[String, Any] = Map.empty) {
    def record: Map[String, Any] = Map("pass" -> pass, "kind" -> kind, "name" -> name,
      "wall_s" -> wallS, "ok" -> (error == null), "error" -> error) ++ extra
  }
}

final class Harness(o: Map[String, String], clock: Clock) {
  import Harness.Op
  private val workload = o("workload")
  private val dir = o("inputs")
  private val seconds = o("seconds").toDouble
  private val traced = o("trace") == "1"
  private val cores = o("cores").toInt
  private val localDir = o("local-dir")
  private val tables = o("tables").split(",").toSeq
  private val queries = o.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty)
  private val minPasses = o.getOrElse("min-passes", "1").toInt
  // query -> inputs directory its output check runs on instead of `dir`
  private val checkOn: Map[String, String] = o.getOrElse("check-on", "").split(",")
    .filter(_.nonEmpty).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    tables.foreach { t =>
      require(Files.exists(Paths.get(Tables.path(dir, t))), s"input table missing: $t")
    }
    s
  }

  /** Set-up is measured eleven times: from main entry to a ready session
    * with the inputs present, then ten more times after stopping the
    * session. */
  private def setup(): (SparkSession, Seq[Double]) = {
    var s = newSession()
    val times = mutable.ArrayBuffer(clock.now())
    for (_ <- 1 to 10) {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t = clock.now()
      s = newSession()
      times += clock.now() - t
    }
    (s, times.toSeq)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"

  def run(): Unit = {
    val (spark, setups) = setup()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) Some(new Tracer(spark, clock)) else None
    val ops = mutable.ArrayBuffer[Op]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val reads = mutable.LinkedHashMap[String, Seq[String]]()
    val workloadRun: WorkloadRun =
      if (workload == "staged") new StagedRun(spark, tracer)
      else new QueriesRun(spark, tracer, reads)

    tracer.foreach(_.attach())
    ops ++= workloadRun.warmup()
    tracer.foreach { t => t.drainQes(); t.materialize(); t.detach(); t.clear() }

    def pass(p: Int, withTrace: Boolean): Unit = {
      if (withTrace) tracer.foreach(_.attach())
      val gc0 = gcSeconds()
      val passOps = workloadRun.pass(p, withTrace)
      val gc = gcSeconds() - gc0
      ops ++= passOps
      val probe = if (withTrace) workloadRun.loadProbe(p) else 0.0
      if (withTrace) tracer.foreach(_.detach())
      passes += Map("pass" -> p, "traced" -> withTrace, "gc_s" -> gc,
        "wall_s" -> passOps.map(_.wallS).sum, "load_probe_s" -> probe,
        "ops" -> passOps.size)
    }

    // whole passes until --seconds are used up: another pass starts if it is
    // expected to end inside the window, if fewer than --min-passes ran, or
    // if the count is even (an odd count has a middle pass)
    val start = clock.now()
    var p = 0
    var untraced = 0
    var more = true
    while (more) {
      pass(p, withTrace = false)
      if (traced) pass(p + 1, withTrace = true)
      p += (if (traced) 2 else 1)
      untraced += 1
      val used = clock.now() - start
      more = untraced < minPasses || used + used / untraced <= seconds || untraced % 2 == 0
    }
    val measured = clock.now() - start

    val sc = spark.sparkContext
    val env = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "scala_version" -> scala.util.Properties.versionNumberString,
      "default_parallelism" -> sc.defaultParallelism,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "jvm_processors" -> Runtime.getRuntime.availableProcessors)
    val record = Map(
      "workload" -> workload,
      "env" -> env,
      "setup_s" -> setups,
      "measured_s" -> measured,
      "ops" -> ops.map(_.record),
      "passes" -> passes,
      "reads" -> reads,
      "spans" -> tracer.map(_.records).getOrElse(Nil),
      "vm_hwm_kb" -> vmHwmKb())
    Files.writeString(Paths.get(o("out")), Json(record))
    spark.stop()
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private trait WorkloadRun {
    def warmup(): Seq[Op]
    def pass(p: Int, withTrace: Boolean): Seq[Op]
    /** Direct `Tables.load(...).schema` timings over the tables the
      * workload reads; returns their sum. */
    def loadProbe(p: Int): Double
  }

  /** `interactive` and `scale`: registry queries, each one operation. */
  private final class QueriesRun(spark: SparkSession, tracer: Option[Tracer],
                                 reads: mutable.LinkedHashMap[String, Seq[String]])
      extends WorkloadRun {
    private val sc = spark.sparkContext
    // noop passes after the check pass, so that timing starts with the JIT settled
    private val warmupPasses = o("warmup-passes").toInt

    private def timed(p: Int, kind: String, q: String)(body: => Unit): Op = {
      val t0 = clock.now()
      val err = try { body; null } catch { case e: Throwable => errorText(e) }
      finally spark.catalog.clearCache()
      Op(p, kind, q, clock.now() - t0, err)
    }

    /** The check pass writes each query's output for the oracle compare;
      * `--warmup-passes` noop passes follow. */
    def warmup(): Seq[Op] = {
      val oracles = Registry.oracles.filter { case (q, _) => queries.contains(q) }
      Files.writeString(Paths.get(s"${o("check-dir")}/oracle_sql.json"), Json(oracles))
      queries.flatMap(warmupQuery) ++ (1 to warmupPasses).flatMap(_ => queries.map { q =>
        timed(-1, "warmup", q) {
          Registry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
        }
      })
    }

    private def warmupQuery(q: String): Seq[Op] = {
      val out = s"${o("check-dir")}/$q"
      val checkDir = checkOn.getOrElse(q, dir)
      val check = timed(-1, "check", q) {
        Registry.queries(q)(spark, checkDir).write.mode("overwrite").parquet(out)
      }
      tracer.foreach { t =>
        reads(q) = t.drainQes().flatMap(_.tables).distinct.filter(Tables.names.contains).sorted
        t.materialize()
      }
      Seq(check)
    }

    def pass(p: Int, withTrace: Boolean): Seq[Op] = queries.map { q =>
      tracer.filter(_ => withTrace) match {
        case None => timed(p, "timed", q) {
          Registry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
        }
        case Some(t) => tracedQuery(t, p, q)
      }
    }

    private def tracedQuery(t: Tracer, p: Int, q: String): Op = {
      sc.setJobGroup(s"p$p-$q", q)
      var buildEnd = 0.0
      var root: t.Span = null
      var write: t.Span = null
      val op = t.span(q, "query") { r =>
        root = r
        r.attrs("pass") = p
        timed(p, "traced", q) {
          val df = t.span("build", "queries") { _ =>
            val d = Registry.queries(q)(spark, dir)
            buildEnd = clock.now()
            d
          }
          t.span("write", "write") { w =>
            write = w
            df.write.format("noop").mode("overwrite").save()
          }
        }
      }
      sc.clearJobGroup()
      val qes = t.drainQes()
      // the write's own query execution is the one planned after build
      val (exec, build) = qes.partition(_.planStart >= buildEnd - 0.002)
      root.attrs("build_qes") = build.size
      val remap = (for { w <- Option(write); qe <- exec.lastOption } yield {
        t.addSpan(w.id, "plan", "plans", qe.planStart, qe.planEnd,
          Map("analysis_s" -> qe.phaseSeconds("analysis"),
            "optimization_s" -> qe.phaseSeconds("optimization"),
            "planning_s" -> qe.phaseSeconds("planning"),
            "exchanges" -> qe.exchanges, "windows" -> qe.windows))
        val ex = t.addSpan(w.id, "exec", "exec", math.max(qe.planEnd, w.start), w.end, Map.empty)
        Map(w.id -> ex.id)
      }).getOrElse(Map.empty[Int, Int])
      t.materialize(remap)
      op
    }

    def loadProbe(p: Int): Double = tracer.map { t =>
      t.span("load-probe", "probe") { root =>
        root.attrs("pass") = p
        queries.flatMap(q => reads.getOrElse(q, Nil)).map { table =>
          t.span(table, "core") { _ =>
            val t0 = clock.now()
            Tables.load(spark, dir, table).schema
            clock.now() - t0
          }
        }.sum
      }
    }.getOrElse(0.0)
  }

  /** `staged`: the checkpointed analysis, three operations per pass. */
  private final class StagedRun(spark: SparkSession, tracer: Option[Tracer])
      extends WorkloadRun {
    private val root = s"$localDir/staged"
    private val analysis = new Staged(spark, dir, root)
    private var gen = 0
    private var reference: Seq[org.apache.spark.sql.Row] = Nil

    private def wipe(): Unit = {
      val r = Paths.get(root)
      if (Files.exists(r))
        Files.walk(r).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }

    private def op(p: Int, kind: String, name: String, withTrace: Boolean)(
        check: Seq[org.apache.spark.sql.Row] => String): Op = {
      if (name == "cold") wipe()
      if (name != "resume") gen += 1
      val calls = mutable.ArrayBuffer[Staged.Call]()
      val t0 = clock.now()
      var rootSpan: Tracer#Span = null
      var result: Seq[org.apache.spark.sql.Row] = Nil
      val body = () => {
        val onCall: (String, String) => (=> org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
          (stage, path) => build => tracer.filter(_ => withTrace) match {
            case Some(t) => t.span(path, "pipeline") { s => s.attrs("stage") = stage; build }
            case None => build
          }
        result = analysis.run(gen, calls, onCall)
      }
      val err = try {
        tracer.filter(_ => withTrace) match {
          case Some(t) =>
            spark.sparkContext.setJobGroup(s"p$p-$name", name)
            t.span(name, "query") { s => rootSpan = s; s.attrs("pass") = p; body() }
          case None => body()
        }
        check(result)
      } catch { case e: Throwable => errorText(e) }
      finally spark.catalog.clearCache()
      val wall = clock.now() - t0
      tracer.filter(_ => withTrace).foreach { t =>
        spark.sparkContext.clearJobGroup()
        val qes = t.drainQes()
        Option(rootSpan).foreach(_.attrs ++= Seq(
          "analysis_s" -> qes.map(_.phaseSeconds("analysis")).sum,
          "optimization_s" -> qes.map(_.phaseSeconds("optimization")).sum,
          "planning_s" -> qes.map(_.phaseSeconds("planning")).sum,
          "exchanges" -> qes.map(_.exchanges).sum,
          "windows" -> qes.map(_.windows).sum))
        t.materialize()
      }
      val files =
        if (!Files.exists(Paths.get(root))) Nil
        else Files.walk(Paths.get(root)).filter(f => Files.isRegularFile(f)).toList.asScala.toSeq
      Op(p, kind, name, wall, err, Map("calls" -> calls.map(c => Map(
        "stage" -> c.stage, "shift" -> c.shift, "built" -> c.built, "wall_s" -> c.wallS)),
        "checkpoint_files" -> files.size, "checkpoint_bytes" -> files.map(Files.size).sum))
    }

    /** Every operation must give the warm-up's cold histogram: resume reads
      * it back, partial rebuilds it, a later cold rebuilds it from scratch. */
    private def sameAsReference(rows: Seq[org.apache.spark.sql.Row]): String =
      if (rows == reference) null
      else s"histogram differs from the cold reference (${rows.size} vs ${reference.size} bins)"

    /** The warm-up is one cold operation: it builds every stage under every
      * shift once. Its histogram must match an independent Σweights. */
    def warmup(): Seq[Op] = Seq(op(-1, "check", "cold", withTrace = false) { rows =>
      reference = rows
      val histSumw = rows.filter(_.getAs[String]("shift") == "nominal")
        .map(_.getAs[Double]("sumw")).sum
      val direct = analysis.independentSumw()
      if (rows.isEmpty) "empty histogram"
      else if (math.abs(histSumw - direct) > 1e-6 * math.max(1.0, math.abs(direct)))
        s"histogram sumw $histSumw != independent sumw $direct"
      else null
    })

    def pass(p: Int, withTrace: Boolean): Seq[Op] = {
      val kind = if (withTrace) "traced" else "timed"
      Seq("cold", "resume", "partial").map(n => op(p, kind, n, withTrace)(sameAsReference))
    }

    def loadProbe(p: Int): Double = tracer.map { t =>
      t.span("load-probe", "probe") { root =>
        root.attrs("pass") = p
        Seq("orders", "lineitem").map { table =>
          t.span(table, "core") { _ =>
            val t0 = clock.now()
            Tables.load(spark, dir, table).schema
            clock.now() - t0
          }
        }.sum
      }
    }.getOrElse(0.0)
  }
}
