package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run inside the JVM. `run.py` generates the
  * inputs, starts this, and turns the raw samples it writes into metrics.
  *
  *   perfbench.Main --workload W --data DIR --work DIR --seconds S
  *                  --trace 0|1 --cpus N --out FILE
  */
object Main {

  final case class Opts(workload: String, data: String, work: String,
                        seconds: Double, trace: Boolean, cpus: Int, out: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt, m("out"))
  }

  def session(o: Opts): SparkSession = {
    val local = new File(o.work, "spark-local")
    local.mkdirs()
    SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus)
      .config("spark.default.parallelism", o.cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(o.work, "tmp").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
  }

  /** Old-generation occupancy right after a full collection, in MB. The
    * first collection lets Spark's ContextCleaner drop unreferenced
    * broadcasts and blocks, the second one measures what is left. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed.toDouble / (1 << 20))
      .sum
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = session(o)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(4).count()
    val rec = new Recorder
    rec.set("session_s", (System.nanoTime() - t0) / 1e9)
    val tr = new Tracer(spark, o.trace)
    val w: Workload = o.workload match {
      case "fuzzy_link" => new FuzzyLink(spark, tr, rec, o)
      case "ann_serve"  => new AnnServe(spark, tr, rec, o)
      case other        => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ts = System.nanoTime()
    w.setup()
    rec.set("warmup_s", (System.nanoTime() - ts) / 1e9)
    rec.samples.clear()
    w.measure(o.seconds)
    rec.set("live_heap_mb", liveHeapMb())
    w.check()
    if (o.trace) {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      tr.listener.resolvePlanTimes()
      w.traceExtras()
    }
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(o.out), rec.toJson(if (o.trace) Some(tr) else None))
    spark.stop()
  }
}

final class Deadline(seconds: Double) {
  private val end = System.nanoTime() + (seconds * 1e9).toLong
  def left: Boolean = System.nanoTime() < end
}

/** Raw observations of one run: timed samples by kind, scalars, check
  * outcomes and the operation counts. */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0
  var failed = 0

  def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v

  def set(k: String, v: Any): Unit = values(k) = v

  /** Time one operation; a throw counts as a failed operation. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t = System.nanoTime()
    try {
      val r = body
      sample(kind, (System.nanoTime() - t) / 1e9)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Record an output check; a failed check counts as a failed operation. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED: $detail")
    }
    checks += ((name, ok, detail))
  }

  /** A span cut short by a throw has no end times; JSON gets null. */
  private def orNull(ms: Double): Any = if (ms.isNaN) null else ms

  def toJson(tr: Option[Tracer]): Any = {
    val base = mutable.LinkedHashMap[String, Any](
      "attempted" -> attempted, "failed" -> failed,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "values" -> values.toMap,
      "checks" -> checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq)
    tr.foreach { t =>
      base("spans") = t.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
          "name" -> s.name, "request" -> s.request, "group" -> s.group,
          "start" -> s.start, "construct_end" -> orNull(s.constructEnd),
          "end" -> orNull(s.end), "rows_out" -> s.rowsOut)
      }.toSeq
      base("groups") = t.listener.groups.map { case (g, st) =>
        g -> Map("jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
          "cpu_ms" -> st.cpuNs / 1e6, "gc_ms" -> st.gcMs,
          "shuffle_bytes" -> st.shuffleBytes,
          "shuffle_records" -> st.shuffleRecords,
          "spill_bytes" -> st.spillBytes, "input_bytes" -> st.inputBytes,
          "output_bytes" -> st.outputBytes, "plan_ms" -> st.planMs,
          "job_names" -> st.jobNames.toSeq)
      }.toMap
      base("stages") = t.listener.stageSpans.map(s =>
        Seq(s.group, s.start, s.end)).toSeq
    }
    base.toMap
  }
}
