package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Command line: the four options every run takes, plus internal ones:
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --scale full|tiny   (tiny: the self-test's sf0.001-sized inputs)
  *   --corrupt <n>       (corrupt every n-th result before it is checked)
  *   --work <dir>        (private run directory) --inputs <dir> (input cache)
  *   --traces <dir>      (span files) --git <commit> */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      tiny: Boolean, corruptEvery: Int, work: String, inputs: String,
                      traces: String, git: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("scale", "full") == "tiny",
      m.getOrElse("corrupt", "0").toInt, need("work"), need("inputs"), need("traces"),
      m.getOrElse("git", "unknown"))
  }
}

/** One operation's bookkeeping: latency, correctness, Spark deltas. */
final class Ctx(val o: Opts, val spark: SparkSession) {
  val tracer = new Tracer
  val counters = new SparkCounters

  /** Latencies per operation kind; in a traced run, of the traced cycles
    * only, and those of the untraced cycles in `latOff`. */
  val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val latOff = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val sparkByKind = mutable.HashMap.empty[String, counters.Snap]
  var attempted = 0L
  var failed = 0L
  private var seq = 0L
  val notes = mutable.ArrayBuffer.empty[String]

  /** Whether layer tallies record now: always in an untraced run, in the
    * traced cycles of a traced run. */
  def recording: Boolean = !o.trace || tracer.on

  def drain(): Unit = org.apache.spark.GraftListenerBus.drain(spark.sparkContext)

  /** Run one operation of `kind`. `body` does the timed work and returns
    * the untimed correctness check; an exception or a false check counts
    * the operation as failed. `corrupt` tells the check to tamper with the
    * result first (self-test). */
  def op(kind: String)(body: Boolean => (() => Boolean)): Unit = {
    seq += 1
    attempted += 1
    val corrupt = o.corruptEvery > 0 && seq % o.corruptEvery == 0
    spark.sparkContext.setJobGroup(s"$kind-$seq", kind, interruptOnCancel = false)
    tracer.begin(seq)
    val before = if (tracer.on) { drain(); Some(counters.snap) } else None
    val t0 = System.nanoTime()
    val check = try Right(tracer.span(kind)(body(corrupt))) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    before.foreach { b =>
      drain()
      val d = counters.snap - b
      sparkByKind(kind) = sparkByKind.get(kind).fold(d)(_ + d)
    }
    spark.sparkContext.clearJobGroup()
    (if (recording) lat else latOff).getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    val ok = check match {
      case Right(c) => try c() catch { case e: Exception => note(s"$kind check threw: $e"); false }
      case Left(e) => note(s"$kind failed: $e"); false
    }
    if (!ok) failed += 1
  }

  /** A check made outside an operation (setup-time curation). */
  def verify(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; note(s"$what check failed") }
  }

  def note(s: String): Unit = if (notes.length < 20) { notes += s; log(s) }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Storage memory held by persisted RDDs and pinned blocks, MB. */
  def cachedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  /** Drop every persisted RDD and cached table: between setup reps, so
    * each rep builds from nothing. */
  def releaseAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** A workload: untimed input preparation, a setup that builds every
  * serving structure from scratch, and a closed loop of operations. */
trait Workload {
  /** Operation kind whose latency is `op_p50_ms` / `op_tail_ms`. */
  def primary: String
  /** Setup repetitions per run; the reported `setup_s` is their median. */
  def setupReps: Int
  def prepare(): Unit
  /** Build everything from scratch; returns seconds per setup phase. */
  def setup(): Seq[(String, Double)]
  /** Untimed operations between setup and the measured loop, where
    * latency is still falling as JIT compilation and heap sizing settle. */
  def settle(): Unit = ()
  /** One cycle of operations; a run measures whole cycles. */
  def cycle(): Unit
  /** Nominal seconds per cycle on a 4-core host: a run measures
    * round(seconds / cycleSeconds) cycles, the same count every run, so
    * the operation mix (and, where reads slow down as ingests accrue,
    * the state they read) never depends on how fast a run happens to go. */
  def cycleSeconds: Double
  /** Mean answer quality over the run (recall). */
  def quality: Double
  /** Workload-specific layer metrics (name → value); the rest print 0. */
  def layers: Map[String, Double]
  def inputRows: Long
}

object Main {
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0))
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it. */
  def tailPct(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.85, 0.8, 0.75).find(p => n * (1 - p) >= 10).getOrElse(0.5)

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.tools.Sessions.local(cpus.toString)
      .appName(s"perfbench-${o.workload}")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(o, spark)
    val w: Workload = o.workload match {
      case "search_ref" => new SearchRef(ctx)
      case "serve_ingest" => new ServeIngest(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val (_, prepS) = ctx.secs(w.prepare())
    ctx.log(f"prepared inputs in $prepS%.1f s")

    val setups = (1 to w.setupReps).map { rep =>
      ctx.releaseAll()
      val phases = w.setup()
      ctx.log(s"setup rep $rep: " + phases.map { case (p, t) => f"$p=$t%.2f" }.mkString(" "))
      phases
    }
    val setupTotals = setups.map(_.map(_._2).sum)
    val (_, settleS) = ctx.secs(w.settle())
    ctx.log(f"settled in $settleS%.1f s")

    // closed loop, one client thread. A traced run alternates untraced
    // and traced cycles: layer metrics come from the traced ones, and the
    // ratio of the two p50s is the tracing overhead.
    if (o.trace) {
      spark.sparkContext.addSparkListener(ctx.counters)
      spark.listenerManager.register(ctx.counters)
    }
    val cycles = math.max(if (o.trace) 2 else 1, math.round(o.seconds / w.cycleSeconds).toInt)
    (0 until cycles).foreach { c =>
      ctx.tracer.on = o.trace && c % 2 == 1
      w.cycle()
    }
    ctx.tracer.on = false
    ctx.drain()

    val prim = ctx.lat.getOrElse(w.primary, mutable.ArrayBuffer.empty[Double]).toSeq
    val allMs = ctx.lat.values.flatten.sum
    val nOps = ctx.lat.values.map(_.length).sum
    val e2e = Seq(
      ("setup_s", median(setupTotals), "s"),
      ("op_p50_ms", median(prim), "ms"),
      ("op_tail_ms", pct(prim, tailPct(prim.length)), "ms"),
      ("ops_per_s", nOps / (allMs / 1000.0), "1/s"),
      ("recall", w.quality, "ratio"))

    val ctxLine =
      s"""{"perfbench":"context","workload":"${o.workload}","seed":${o.seed},""" +
        s""""cpus":$cpus,"spark_master":"${spark.sparkContext.master}",""" +
        s""""heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"git":"${o.git}",""" +
        s""""spark":"${spark.version}","input_rows":${w.inputRows},"prepare_s":$prepS,""" +
        s""""setup_reps":${setupTotals.mkString("[", ",", "]")},""" +
        s""""tail_pct":${tailPct(prim.length)},""" +
        s""""samples":{${ctx.lat.map { case (k, v) => s""""$k":${v.length}""" }.mkString(",")}},""" +
        s""""notes":[${ctx.notes.map(n => "\"" + n.replace("\\", "/").replace("\"", "'") + "\"").mkString(",")}]}"""
    println(ctxLine)

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) e2e
      else {
        val phases = setups.last
        val setupLayer = Layers.setupPhases.map(p =>
          (s"setup.${p}_s", phases.find(_._1 == p).map(_._2).getOrElse(0.0), "s")) :+
          (("setup.artifact_builds", Layers.artifactBuilds(o.work).toDouble, "count"))
        val own = w.layers
        val sp = Layers.spark(ctx, w.primary, prim.length)
        val self = Layers.selfTimes(ctx)
        val off = median(ctx.latOff.getOrElse(w.primary, Nil).toSeq)
        val overhead = if (off > 0) median(prim) / off - 1.0 else 0.0
        val known = (own ++ sp ++ self ++ setupLayer.map(t => t._1 -> t._2) ++
          Map("trace.overhead_frac" -> overhead, "spark.cached_mb" -> ctx.cachedMb))
        Layers.all.map { case (n, u) => (n, known.getOrElse(n, 0.0), u) }
      }
    ctx.tracer.write(java.nio.file.Paths.get(o.traces, s"${o.workload}-seed${o.seed}.jsonl"))

    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":{$ms}}""")
    spark.stop()
  }
}
