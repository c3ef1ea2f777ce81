package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

/** One benchmark run in one JVM: set up a workload's inputs (several times,
  * for `setup_s`), warm up with one untimed operation, then run operations
  * back to back (a closed loop, one job at a time) for `--seconds` and at
  * least [[MinOps]] times, and check the last operation's output. With
  * `--trace 1` the run instead records per-layer spans and Spark counters.
  *
  * Prints human-readable lines, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and the computed `metrics` (name → value);
  * `perfbench/run.py` attaches units. The full result goes to
  * `.bench_build/results/`.
  */
object Main {
  val SetupReps = 3
  /** Timed operations per run whatever `--seconds` says, so `op_cpu_s` is a
    * median even when one operation outlasts the window.
    */
  val MinOps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val root = Paths.get(opts("--root"))
    if (opts.contains("--selftest")) { SelfTest.run(root); return }
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    val traced = opts("--trace") == "1"
    require(Workloads.Names.contains(workload), s"unknown workload $workload")

    val work = root.resolve(".bench_build").resolve("work").resolve(workload)
    Workloads.rmrf(work)
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val load0 = loadAvg
    log(f"jvm uptime at main: $uptime%.3f s")
    val (spark, sessionS) = time(session(root, cpus))
    log(f"session: $sessionS%.3f s")
    try {
      val w = Workloads(workload, new Ctx(spark, work, seed, cpus))
      val setups = (1 to SetupReps).map { i =>
        val r = measure(w.setup())
        log(f"setup $i: ${r.wallS}%.3f s wall, ${r.cpuS}%.3f s cpu")
        r
      }
      val inputs = setups.last.out
      var attempted = 0L
      var failed = 0L
      val ops = scala.collection.mutable.ArrayBuffer.empty[Measured[OpOut]]
      def attempt(): Unit = {
        try {
          val m = measure(w.op(None))
          ops += m
          log(f"op: ${m.wallS}%.3f s wall, ${m.cpuS}%.3f s cpu ${m.out.named}")
          attempted += m.out.units
        } catch {
          case e: Exception =>
            log(s"operation failed: $e")
            e.printStackTrace()
            attempted += 1; failed += 1
        }
      }
      attempt() // warm-up: JIT, codegen and broadcast set-up are not timed
      ops.clear(); attempted = failed // a failed warm-up still counts as failed
      val t0 = System.nanoTime()
      val cpu0 = cpuTicks
      if (traced) attempt()
      else {
        var n = 0
        while (n < MinOps || (System.nanoTime() - t0) / 1e9 < seconds) { attempt(); n += 1 }
      }
      val untracedOps = ops.toSeq
      val stealFrac = {
        val ((steal0, total0), (steal1, total1)) = (cpu0, cpuTicks)
        (steal1 - steal0).toDouble / math.max(1L, total1 - total0)
      }

      val layers = if (!traced) None else {
        val tracer = new Tracer(spark)
        val l = try w.trace(tracer) finally tracer.stop()
        Some((l, tracer))
      }

      val (checks, checkS) = time(try w.checks() catch {
        case e: Exception =>
          e.printStackTrace()
          Seq(Check(s"checks threw $e", 1, 1, ""))
      })
      log(f"checks: $checkS%.3f s")
      attempted += checks.map(_.items).sum
      failed += checks.map(_.failed).sum
      val correct = failed == 0 && untracedOps.nonEmpty

      val opWall = Workloads.medianOf(untracedOps.map(_.wallS))
      val opCpu = Workloads.medianOf(untracedOps.map(_.cpuS))
      val setupS = Workloads.medianOf(setups.map(_.cpuS))
      val metrics: Seq[(String, Double)] = layers match {
        case None => Seq("op_cpu_s" -> opCpu, "setup_s" -> setupS)
        case Some((l, _)) =>
          val untracedWall = opWall
          l.self ++ l.other ++ Seq("trace.wall_s" -> l.wall,
            "trace.unattributed_s" -> (l.wall - l.self.map(_._2).sum),
            "trace.overhead_frac" -> (l.wall / untracedWall - 1.0))
      }
      val named = namedMetrics(workload, untracedOps,
        Workloads.medianOf(setups.map(_.wallS)))

      val host = ListMap(
        "nproc" -> cpus, "load1_start" -> load0, "load1_end" -> loadAvg,
        "cpu_steal_frac_timed" -> stealFrac,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_conf" -> ListMap(spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.sql.")).sorted: _*),
        "spark_master" -> spark.sparkContext.master,
        "storage_memory_b" -> spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum,
        "input_bytes" -> w.inputBytes,
        "git_commit" -> gitCommit(root),
        "scaling_2_to_8_cores" -> s"not measured ($cpus vCPU)")
      val result = ListMap(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "inputs" -> inputs, "host" -> host,
        "setup_wall_s_samples" -> setups.map(_.wallS), "setup_cpu_s_samples" -> setups.map(_.cpuS),
        "op_wall_s_samples" -> untracedOps.map(_.wallS), "op_cpu_s_samples" -> untracedOps.map(_.cpuS),
        "named_metrics" -> ListMap(named: _*), "metrics" -> ListMap(metrics: _*),
        "checks" -> checks.map(ch => ListMap("name" -> ch.name, "items" -> ch.items,
          "failed" -> ch.failed, "detail" -> ch.detail)),
        "spans" -> layers.map(_._2.spans.map(s => ListMap("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "start_s" -> s.startS, "end_s" -> s.endS,
          "counters" -> ListMap(s.counters.metrics("span"): _*)))))
      val resultDir = root.resolve(".bench_build").resolve("results")
      Files.createDirectories(resultDir)
      val file = resultDir.resolve(s"$workload-seed$seed-trace${if (traced) 1 else 0}.json")
      Files.writeString(file, Json.render(result) + "\n")

      println(s"workload $workload seed $seed: ${untracedOps.size} timed operations, " +
        f"median ${opWall}%.3f s wall, ${opCpu}%.3f s cpu")
      named.foreach { case (n, v) => println(f"named $n%-28s $v%.4f") }
      checks.foreach(ch => println(s"check ${if (ch.ok) "ok  " else "FAIL"} ${ch.name}: ${ch.detail}"))
      println(s"result file $file")
      println(Json.render(ListMap("correct" -> correct, "attempted" -> math.max(1L, attempted),
        "failed" -> failed, "metrics" -> ListMap(metrics: _*))))
    } finally {
      spark.stop()
      log(f"jvm uptime at exit: $uptime%.3f s")
    }
  }

  /** Wall-clock figures, per-workload throughputs and the peak RSS, for the
    * result file. They are not gated: wall time on a shared VM swings with
    * hypervisor steal, the rates restate the operation time per work unit,
    * and peak RSS follows GC timing too closely to bound run to run.
    */
  private def namedMetrics(workload: String, ops: Seq[Measured[OpOut]],
      setupWallS: Double): Seq[(String, Double)] = {
    val rate = if (workload == "pip_tile") Seq("images_per_s") else Nil
    val keys = ops.headOption.toSeq.flatMap(_.out.named.keys).sorted
    Seq("op_wall_s" -> Workloads.medianOf(ops.map(_.wallS))) ++
      rate.map(_ -> Workloads.medianOf(ops.map(m => m.out.items / m.wallS))) ++
      keys.map(k => k -> Workloads.medianOf(ops.map(_.out.named(k)))) ++
      Seq("setup_wall_s" -> setupWallS, "peak_rss_mb" -> peakRssMb)
  }

  /** The benchmark's one session: local[cpus], AQE on, UTC, writes kept
    * under `.bench_build`, the engine's PIP rewrite installed.
    */
  def session(root: Path, cpus: Int): SparkSession = {
    val b = root.resolve(".bench_build")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", b.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", b.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.PipJoinRewrite.install(s)
    s
  }

  /** Progress on stderr (`.bench_build/jvm.log` under run.py). */
  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def uptime: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  final case class Measured[A](out: A, wallS: Double, cpuS: Double)

  /** Wall and CPU seconds of `body`. CPU seconds are summed over the JVM's
    * Java threads (Spark driver, scheduler and task threads); they leave out
    * the JIT compiler and GC threads, whose work shifts from run to run, and,
    * with the kernel's paravirtual time accounting, the time the hypervisor
    * gave the vCPUs to other machines (steal), which makes wall time on a
    * shared VM swing by half. A thread that ends inside `body` loses its CPU
    * time; Spark's pools keep theirs alive for a minute.
    */
  def measure[A](body: => A): Measured[A] = {
    val (t0, c0) = (System.nanoTime(), javaCpuS)
    val a = body
    Measured(a, (System.nanoTime() - t0) / 1e9, javaCpuS - c0)
  }

  private def javaCpuS: Double = {
    val tm = java.lang.management.ManagementFactory.getThreadMXBean
    tm.getAllThreadIds.map(tm.getThreadCpuTime).filter(_ > 0).sum / 1e9
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** (steal, total) jiffies of all CPUs: the share of time the hypervisor
    * gave the VM's vCPUs to other machines.
    */
  private def cpuTicks: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  private def loadAvg: Double =
    Files.readString(Paths.get("/proc/loadavg")).split(' ')(0).toDouble

  /** VmHWM (peak resident set) of this JVM, in MiB. */
  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The checkout is usually a plain copy; report the commit when it is not. */
  private def gitCommit(root: Path): String = {
    val head = root.resolve(".git").resolve("HEAD")
    if (!Files.exists(head)) "unknown (not a git checkout)"
    else {
      val h = Files.readString(head).trim
      if (!h.startsWith("ref: ")) h
      else {
        val ref = root.resolve(".git").resolve(h.stripPrefix("ref: "))
        if (Files.exists(ref)) Files.readString(ref).trim else h
      }
    }
  }
}
