package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One benchmark run in one JVM: set-up, a closed loop of jobs (one
  * client, back to back, each on its own input slice, cache cleared
  * between jobs), and, for the traced run, the untraced/traced job
  * pair and the prefix ladder. Writes a JSON result file that
  * `run.py` checks and summarises; it prints no metrics itself.
  *
  * Arguments (all required): --workload --inputs --outputs --work
  * --seconds --trace --cores --result --spans --run_id. `inputs` holds
  * one directory per slice (`s000`, `s001`, ...) plus `warmup`.
  */
object Harness {
  private val Setups = 3

  final case class JobRun(index: Int, slice: String, out: String, seconds: Double,
      cpuSeconds: Double, error: String)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (all threads), in seconds. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(opt("workload"))
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val inputs = opt("inputs")
    val outputs = opt("outputs")
    val slices = new File(inputs).listFiles().filter(_.getName.startsWith("s"))
      .map(_.getPath).sorted.toIndexedSeq
    require(slices.nonEmpty, s"no input slices under $inputs")
    val warmup = s"$inputs/warmup"

    // set-up: session start plus one untimed warm-up job, repeated;
    // the last session stays up for the measured loop
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, opt("work"))
      workload.job(spark, warmup, s"$outputs/warmup$k")
      spark.catalog.clearCache()
      setupS += (System.nanoTime() - t0) / 1e9
      System.gc()
    }
    val calS = calibration(spark)

    val result = new Json
    result.num("cores", cores)
    result.nums("setup_s", setupS.toSeq)
    result.num("cal_s", calS)

    var next = 0
    def runJob(wrap: (=> Unit) => Unit): JobRun = {
      val i = next; next += 1
      val slice = slices(i % slices.size)
      val out = s"$outputs/j$i"
      val c0 = cpuSeconds()
      val t0 = System.nanoTime()
      val err = try { wrap(workload.job(spark, slice, out)); null }
        catch { case NonFatal(e) => s"${e.getClass.getName}: ${e.getMessage}" }
      val s = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSeconds() - c0
      spark.catalog.clearCache()
      System.gc() // every job starts from the same heap state, outside its timing
      if (err != null) System.err.println(s"job $i failed: $err")
      JobRun(i, new File(slice).getName, out, s, cpu, err)
    }
    val start = System.nanoTime()
    val budgetNs = (seconds * 1e9).toLong

    if (!traced) {
      val runs = mutable.ArrayBuffer.empty[JobRun]
      do runs += runJob(body => body) while (System.nanoTime() < start + budgetNs)
      result.jobs("jobs", runs.toSeq)
    } else {
      // untraced and traced jobs alternate through the first half of the
      // budget, so the JIT's continuing warm-up favours neither; their
      // median ratio is the tracing overhead
      val tracer = new Tracer(spark)
      val plain = mutable.ArrayBuffer.empty[JobRun]
      val tracedRuns = mutable.ArrayBuffer.empty[JobRun]
      val tracedSteps = mutable.ArrayBuffer.empty[StepStats]
      do {
        plain += runJob(body => body)
        tracer.install()
        tracedRuns += runJob(body => tracedSteps += tracer.step(s"job${tracedSteps.size}")(body))
        tracer.uninstall()
      } while (System.nanoTime() < start + budgetNs / 2)
      result.jobs("jobs", (plain ++ tracedRuns).toSeq)
      result.nums("untraced_job_s", plain.map(_.seconds).toSeq)
      result.nums("traced_job_s", tracedRuns.map(_.seconds).toSeq)

      // the ladder: at least two repetitions, then until the budget is
      // used; every other repetition runs its steps in reverse order so
      // that warm-up during the ladder does not favour its later steps.
      // Each repetition also times the whole job (segment -1), which the
      // layer self times must account for.
      val out = s"$outputs/ladder"
      val steps = (-1, 0, "job", () => workload.job(spark, slices.head, out)) +: (for {
        (segment, seg) <- workload.ladder(spark, slices.head, out).zipWithIndex
        ((layer, body), k) <- segment.zipWithIndex
      } yield (seg, k, layer, body))
      val reps = mutable.ArrayBuffer.empty[Map[(Int, Int), StepStats]]
      tracer.install()
      do {
        val rep = reps.size
        reps += (if (rep % 2 == 0) steps else steps.reverse).map { case (seg, k, layer, body) =>
          val st = tracer.step(s"ladder$rep.$seg.$k:$layer")(body())
          spark.catalog.clearCache()
          System.gc()
          (seg, k) -> st
        }.toMap
      } while (reps.size < 2 || System.nanoTime() < start + budgetNs)
      tracer.uninstall()

      result.str("ladder_out", out)
      val layers = steps.filter(_._1 >= 0).groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._3))
      result.num("ladder_job_s", median(reps.map(_((-1, 0)).wallS).toSeq))
      val counts = workload.counts(spark, slices.head, out)
      result.raw("layers", layerMetrics(layers, reps.toSeq, cores, out, counts))
      result.raw("spark", tracedSteps.lastOption.map(sparkMetrics).getOrElse("{}"))
      writeSpans(opt("spans"), opt("run_id"),
        tracedSteps.toSeq ++ reps.flatMap(_.values).sortBy(_.startMs))
    }
    spark.stop()
    result.num("peak_rss_mb", peakRssMb())
    Files.writeString(Paths.get(opt("result")), result.render)
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkEntry.configure(SparkSession.builder(), cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Fixed-work box-speed sentinel (the same work as graft.Bench's
    * `cal_fixed_work`): a deterministic CPU loop plus a 1k-row shuffle.
    * Its cost does not depend on the engine's code, so a run on a
    * slowed box shows up here. Median of three after one warm-up. */
  def calibration(spark: SparkSession): Double = {
    def work(): Unit = {
      var acc = 0L
      var i = 0
      while (i < 50000000) { acc = acc * 6364136223846793005L + i; i += 1 }
      if (acc == 42L) println("")
      spark.range(1000).groupBy(col("id") % 7).count().count()
    }
    work()
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); work(); (System.nanoTime() - t0) / 1e9
    }.sorted
    times(1)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Per-layer metrics from the ladder repetitions. Step k's self
    * value is its median over repetitions minus the median of the step
    * before it in the same segment; a layer that appears in several
    * segments (the sink) sums its parts. A layer's own stages are the
    * ones its step adds beyond the previous step's stage count (by
    * stage id order), or the step's last stage when it adds none. */
  def layerMetrics(layers: Seq[Seq[String]], reps: Seq[Map[(Int, Int), StepStats]], cores: Int,
      sinkOut: String, counts: Seq[(String, Double)]): String = {
    // per layer: self s, task s, shuffle bytes, spill bytes, task skew
    val acc = mutable.LinkedHashMap.empty[String, Array[Double]]
    for (seg <- layers.indices; k <- layers(seg).indices) {
      def med(i: Int, f: StepStats => Double) =
        if (i < 0) 0.0 else median(reps.map(r => f(r((seg, i)))))
      def delta(f: StepStats => Double) = med(k, f) - med(k - 1, f)
      val first = reps.head((seg, k))
      val ids = first.stageTasks.keys.toSeq.sorted
      val prev = if (k == 0) 0 else reps.head((seg, k - 1)).stageTasks.size
      val own = if (ids.size > prev) ids.drop(prev) else ids.takeRight(1)
      val a = acc.getOrElseUpdate(layers(seg)(k), Array(0.0, 0.0, 0.0, 0.0, 0.0))
      a(0) += delta(_.wallS)
      a(1) += delta(_.taskMs.toDouble) / 1000
      a(2) += delta(_.shuffleWriteBytes.toDouble)
      a(3) += delta(_.spillBytes.toDouble)
      a(4) = math.max(a(4), first.taskSkew(own))
    }
    val j = new Json
    acc.foreach { case (layer, a) =>
      j.num(s"$layer.self_s", a(0))
      j.num(s"$layer.busy_frac", if (a(0) > 0) a(1) / (cores * a(0)) else 0.0)
      j.num(s"$layer.shuffle_mb", a(2) / 1e6)
      j.num(s"$layer.spill_mb", a(3) / 1e6)
      j.num(s"$layer.task_skew", a(4))
    }
    val files = Files.walk(Paths.get(sinkOut)).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) && !hidden(p))
    j.num("sink.mb_written", files.map(Files.size(_)).sum / 1e6)
    j.num("sink.files_written", files.size.toDouble)
    j.num("ladder.reps", reps.size.toDouble)
    j.num("ladder.total_s", acc.values.map(_(0)).sum)
    counts.foreach { case (k, v) => j.num(k, v) }
    j.render
  }

  private def hidden(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith("_") || n.startsWith(".")
  }

  def sparkMetrics(st: StepStats): String = {
    val j = new Json
    j.num("spark.jobs", st.jobs)
    j.num("spark.stages", st.stages.size)
    j.num("spark.tasks", st.tasks)
    j.num("spark.task_retries", st.taskRetries)
    j.num("spark.exchanges", st.exchanges)
    j.num("spark.codegen_stages", st.codegenStages)
    j.render
  }

  /** One JSON line per span: each step, its Spark jobs (children of
    * the step) and their stages (children of the jobs). */
  def writeSpans(path: String, runId: String, steps: Seq[StepStats]): Unit = {
    val w = new PrintWriter(path)
    try steps.foreach { st =>
      def span(id: String, parent: String, kind: String, name: String,
          start: Long, end: Long, extra: Json => Unit): Unit = {
        val j = new Json
        j.str("run_id", runId); j.str("span_id", id)
        if (parent != null) j.str("parent_id", parent)
        j.str("kind", kind); j.str("name", name)
        j.num("start_ms", start.toDouble); j.num("end_ms", end.toDouble)
        extra(j)
        w.println(j.render)
      }
      span(st.name, null, "step", st.name, st.startMs, st.endMs, j => {
        j.num("task_s", st.taskMs / 1000.0)
        j.num("shuffle_write_bytes", st.shuffleWriteBytes.toDouble)
        j.num("spill_bytes", st.spillBytes.toDouble)
        j.num("tasks", st.tasks)
        j.num("exchanges", st.exchanges)
        j.num("codegen_stages", st.codegenStages)
      })
      st.jobSpans.foreach { case (id, s, e, ok) =>
        span(s"${st.name}/job$id", st.name, "job", s"job $id", s, e,
          j => j.str("result", if (ok) "succeeded" else "failed"))
      }
      st.stages.foreach { case (id, job, s, e, n) =>
        span(s"${st.name}/stage$id", s"${st.name}/job$job", "stage", s"stage $id", s, e,
          j => j.num("tasks", n))
      }
    } finally w.close()
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Minimal JSON object writer (the result file is read by run.py). */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n") + "\""
  private def n(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(k: String, v: Double): Unit = fields += s"${q(k)}:${n(v)}"
  def str(k: String, v: String): Unit = fields += s"${q(k)}:${if (v == null) "null" else q(v)}"
  def nums(k: String, vs: Seq[Double]): Unit =
    fields += s"${q(k)}:${vs.map(n).mkString("[", ",", "]")}"
  def raw(k: String, json: String): Unit = fields += s"${q(k)}:$json"
  def jobs(k: String, runs: Seq[Harness.JobRun]): Unit = raw(k, runs.map { r =>
    val j = new Json
    j.num("index", r.index); j.str("slice", r.slice); j.str("out", r.out)
    j.num("seconds", r.seconds); j.num("cpu_seconds", r.cpuSeconds); j.str("error", r.error)
    j.render
  }.mkString("[", ",", "]"))
  def render: String = fields.mkString("{", ",", "}")
}
