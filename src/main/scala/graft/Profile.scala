package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import graft.lineage.Lineage

/** Profiling main: per query and rep, build/plan/exec seconds, rows and
  * the counters of one [[Lineage.scope]] over all three phases (iterative
  * queries loop while they are built); `headline` adds the headline job's
  * phases, one scope each. A query that throws becomes an `error` entry
  * and exit status 1. With `planDir`, rep 1 writes `explain("formatted")`
  * to `<q>.txt`. Host state: nproc, 1-min load.
  *
  * Usage: `runMain graft.Profile <out.json> <q1,q2,...|headline> [sfDir] [reps] [planDir]`.
  */
object Profile {

  type Entry = ListMap[String, Any]

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <out.json> <q1,q2,...|headline> [sfDir] [reps] [planDir]")
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.PipJoinRewrite.install(spark)
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    // same warm-up as Bench: session bring-up isn't charged to the first query
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().count()
    val entries = run(spark, args(1).split(',').toSeq, sfDir, args.lift(3).fold(1)(_.toInt),
      args.lift(4))
    Files.writeString(Paths.get(args(0)), Serialization.writePretty(ListMap("sf" -> sfDir,
      "nproc" -> os.getAvailableProcessors, "load_1m_start" -> loadStart,
      "load_1m_end" -> os.getSystemLoadAverage, "entries" -> entries))(DefaultFormats))
    spark.stop()
    if (entries.exists(_.contains("error"))) sys.exit(1)
  }

  /** Profile `names` (query names or `headline`) `reps` times each. */
  def run(spark: SparkSession, names: Seq[String], sfDir: String, reps: Int,
      planDir: Option[String]): Seq[Entry] = {
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.flatMap {
      case "headline" => headline(spark, reps)
      case q => (1 to reps).map { rep =>
        attempt(q, rep) {
          val ((df, rows, secs), s) = Lineage.scope(spark) {
            val (df, build) = timed(SparkEntry.queries(q)(spark, sfDir))
            val (_, plan) = timed(df.queryExecution.executedPlan) // analyze, optimize, plan
            val (rows, exec) = timed(df.count())
            (df, rows, ListMap("build_s" -> build, "plan_s" -> plan, "exec_s" -> exec))
          }
          if (rep == 1) planDir.foreach(d => Files.writeString(Paths.get(d, s"$q.txt"),
            df.queryExecution.explainString(ExplainMode.fromString("formatted"))))
          secs ++ counters(rows, s)
        }
      }
    }
  }

  /** The headline job's phases: polygon build, image synthesis, spatial
    * join, tiling, and the whole job as `Bench` runs it.
    */
  private def headline(spark: SparkSession, reps: Int): Seq[Entry] = {
    val nImages = sys.env.getOrElse("SPARK_GRAFT_BENCH_IMAGES", "150000").toLong
    val parts = spark.sparkContext.defaultParallelism
    Bench.spatialTileJob(spark, 500, parts) // warm-up
    (1 to reps).flatMap { rep =>
      def phase(name: String)(rows: => Long) = attempt(s"headline.$name", rep) {
        val ((n, sec), s) = Lineage.scope(spark)(timed(rows))
        ListMap("s" -> sec) ++ counters(n, s)
      }
      lazy val polys = Bench.buildPolys(spark)
      val imgs = graft.img.ImageTable.generate(spark, nImages, parts).toDF()
        .withColumn("idx", substring(col("image_id"), 5, 9).cast("long"))
        .withColumn("lat", graft.functions.GraftFunctions.latOfKey(col("idx")))
        .withColumn("lon", graft.functions.GraftFunctions.lonOfKey(col("idx")))
      lazy val assigned = graft.join.SpatialJoin.assign(spark, imgs, polys, res = 7)
      Seq(phase("polys")(polys.count()),
        phase("images") { imgs.write.format("noop").mode("overwrite").save(); nImages },
        phase("assign")(assigned.count()),
        phase("tile")(graft.tile.Tiling.tile(spark, assigned).count()),
        phase("job")(Bench.spatialTileJob(spark, nImages, parts)._2))
    }
  }

  private def attempt(query: String, rep: Int)(body: => Entry): Entry = {
    val id = ListMap("query" -> query, "rep" -> rep)
    try id ++ body catch { case NonFatal(e) => id + ("error" -> e.toString) }
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    (body, (System.nanoTime() - t0) / 1e9) // left to right: body first
  }

  private def counters(rows: Long, s: Lineage.Scope): Entry = {
    def sum(f: Lineage.LineageRow => Long) = s.rows.map(f).sum
    ListMap("rows" -> rows, "jobs" -> s.jobs, "stages" -> s.rows.map(_.stage_id).distinct.size,
      "tasks" -> s.rows.size, "shuffle_read_b" -> sum(_.shuffle_read_b),
      "shuffle_write_b" -> sum(_.shuffle_write_b), "spill_b" -> sum(_.spill_b),
      "run_ms" -> sum(_.wall_ms), "cpu_ms" -> s.rows.map(_.cpu_ms).sum, "gc_ms" -> sum(_.gc_ms))
  }
}
