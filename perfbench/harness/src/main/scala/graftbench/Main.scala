package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.{BenchForce, Session}

/** Runs one workload in this JVM and writes what it saw to `--out`:
  *
  *  - `samples.jsonl`: one line per operation execution (set-up,
  *    timed and check passes) with its start, end of compose and end;
  *  - `passes.jsonl`: one line per pass with its wall and facts;
  *  - `spans.jsonl`: the engine spans of traced passes (`--trace 1`);
  *  - `run.json`: set-up walls, live heap and the check records.
  *
  * Usage: `Main --workload W --data DIR --work DIR --out DIR
  *         --seconds S --trace 0|1 --setups K --min-passes N`
  *
  * One client drives the operations in a closed loop. Set-up is
  * repeated `--setups` times (stop the session, clear graft's memos,
  * start a session, run one untimed pass); only the first runs in a
  * cold JVM. Every set-up pass forces its frames into the noop sink,
  * as a timed pass does. The timed loop then runs whole passes until
  * `--seconds` have passed and at least `--min-passes` passes were
  * timed. With `--trace 1` the timed passes mix traced and untraced
  * ones, so the tracing overhead is measured inside one JVM. Last,
  * after the live heap is read, one untimed pass is the output check:
  * it hands each frame to the workload's check instead of forcing it.
  */
object Main {
  type Rec = Map[String, Any]

  val Cores = 4
  /** The timed loop never measures longer than this, whatever the
    * pass target, so a run always ends in bounded time. */
  val MaxMeasureS = 100.0

  // taken as the wall clock ticks, so epoch0 is exact to the tick
  private val (epoch0, nano0) = {
    val m = System.currentTimeMillis()
    var t = m
    while (t == m) t = System.currentTimeMillis()
    (t.toDouble, System.nanoTime())
  }
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * base as the listener events' times (whole milliseconds, rounded
    * down). */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def describe(e: Throwable) = s"${e.getClass.getName}: ${e.getMessage}"

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(a("out"))
    val work = Paths.get(a("work"))
    Files.createDirectories(out)
    Files.createDirectories(work)
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val setups = a("setups").toInt
    val minPasses = a("min-passes").toInt
    val data = a("data")
    val w: Workload = a("workload") match {
      case "relational" => new Queries("relational", Queries.relational, data)
      case "curation" => new Queries("curation", Queries.curation, data)
      case "lake" => new Lake(data, work)
      case other => sys.error(s"unknown workload $other")
    }

    val samples = mutable.ArrayBuffer.empty[Rec]
    val passes = mutable.ArrayBuffer.empty[Rec]
    val check = mutable.LinkedHashMap.empty[String, Rec]
    var checkFacts: Rec = Map.empty
    val tracer = new Tracer
    var passNo = 0

    /** One pass over the workload's operations; returns its wall in
      * seconds. A `checked` pass hands each frame to the workload's
      * check instead of forcing it, and keeps what the check saw. */
    def runPass(spark: SparkSession, kind: String, traced: Boolean,
                checked: Boolean = false): Double = {
      val pass = passNo
      passNo += 1
      val sc = spark.sparkContext
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val start = now()
      w.ops(spark, pass).foreach { op =>
        val id = s"p$pass.${op.name}"
        sc.setJobGroup(id, op.name, interruptOnCancel = false)
        val s = now()
        var composeEnd = Double.NaN
        var err: Option[String] = None
        var seen: Rec = Map.empty
        var analysis: Option[Seq[Long]] = None
        try {
          val df = op.run()
          composeEnd = now()
          // the returned frame was analyzed inside compose; no listener sees that phase
          if (traced) analysis = df.flatMap(_.queryExecution.tracker.phases.get("analysis"))
            .map(p => Seq(p.startTimeMs, p.endTimeMs))
          if (checked) seen = df.map(w.checkFrame(op.name, _, out)).getOrElse(Map.empty)
          else df.foreach(BenchForce.force)
        } catch {
          case NonFatal(e) => err = Some(describe(e))
        }
        val e = now()
        if (composeEnd.isNaN) composeEnd = e
        if (checked) check(op.name) = Map("ok" -> err.isEmpty, "error" -> err) ++ seen
        samples += Map("pass" -> pass, "kind" -> kind, "traced" -> traced,
          "op" -> op.name, "id" -> id, "start" -> s, "compose_end" -> composeEnd,
          "end" -> e, "ok" -> err.isEmpty, "error" -> err, "analysis" -> analysis)
      }
      sc.clearJobGroup()
      val opsEnd = now()
      if (traced) {
        BenchBus.drain(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      val end = now()
      if (checked) {
        try w.finishCheck(spark, pass, out)
        catch { case NonFatal(e) => check("finish") = Map("ok" -> false, "error" -> describe(e)) }
      }
      val facts = w.afterPass(pass)
      if (checked) checkFacts = facts
      passes += Map("pass" -> pass, "kind" -> kind, "traced" -> traced,
        "start" -> start, "ops_end" -> opsEnd, "end" -> end) ++ facts
      (end - start) / 1e3
    }

    // set-up: session + one untimed pass, repeated
    val setupWalls = mutable.ArrayBuffer.empty[Double]
    val sessionWalls = mutable.ArrayBuffer.empty[Double]
    var firstPass = 0.0
    var spark: SparkSession = null
    for (k <- 0 until setups) {
      if (spark != null) {
        graft.operators.Components.clearSymCaches()
        graft.operators.Sampling.clearBudgetCaches()
        spark.stop()
      }
      val t0 = now()
      spark = Session.local(Cores, s"perfbench-${w.name}")
      val t1 = now()
      val passS = runPass(spark, "setup", traced = false)
      if (k == 0) firstPass = passS
      sessionWalls += (t1 - t0) / 1e3
      setupWalls += (now() - t0) / 1e3
    }

    // timed closed loop
    val t0 = now()
    var timedPasses = 0
    def elapsed = (now() - t0) / 1e3
    while ((elapsed < seconds || timedPasses < minPasses) && elapsed < MaxMeasureS) {
      // traced, untraced, untraced, traced: warm-up drift cancels out
      runPass(spark, "timed", traced = trace && Set(0, 3)(timedPasses % 4))
      timedPasses += 1
    }

    // live heap after a full collection, at the end of the timed loop
    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    // the output check, outside set-up and the timed loop
    runPass(spark, "check", traced = false, checked = true)

    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    def write(name: String, recs: Iterable[Rec]): Unit =
      Files.writeString(out.resolve(name), recs.map(json.writeValueAsString(_) + "\n").mkString)
    write("samples.jsonl", samples)
    write("passes.jsonl", passes)
    write("spans.jsonl", tracer.spans)
    write("run.json", Seq(Map(
      "workload" -> w.name, "cores" -> Cores,
      "setup_s" -> setupWalls.toSeq, "session_s" -> sessionWalls.toSeq,
      "first_pass_s" -> firstPass, "live_heap_mb" -> heapMb,
      "check" -> check.toMap, "check_facts" -> checkFacts)))
    // Everything is written. SparkContext.stop() in local mode can wait
    // out a 10 s heartbeat timeout, so it gets a short grace period and
    // the JVM then exits without waiting for it.
    val stopper = new Thread(() => spark.stop())
    stopper.setDaemon(true)
    stopper.start()
    stopper.join(3000)
    Runtime.getRuntime.halt(0)
  }
}
