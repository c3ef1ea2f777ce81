package perfbench

import java.nio.file.{Files, Path}
import graft.img.ImageTable
import graft.osm.pbf.PbfSource

/** The benchmark's own tests (`python3 perfbench/run.py --selftest`):
  *  - the same seed gives byte-identical generated inputs, another seed
  *    different ones;
  *  - on every workload the output checks pass on a real operation, and
  *    fail once one tile, assignment, sink file or BFS row is removed.
  * Exits non-zero on the first failure.
  */
object SelfTest {
  private var failures = 0

  private def expect(cond: Boolean, what: String): Unit = {
    println(s"${if (cond) "PASS" else "FAIL"} $what")
    if (!cond) failures += 1
  }

  private def pbfDigest(seed: Long, file: Path): String = {
    val s = Gen.gridScene(seed, 6, 4, 10, (-40.0, 40.0), (-80.0, 80.0), extras = true)
    PbfSource.writeFixture(file.toString, s.scene.nodes, s.scene.ways, s.scene.relations)
    Gen.digest(Iterator(Files.readAllBytes(file)))
  }

  private def pointsDigest(seed: Long): String = {
    val (la, lo) = Gen.points(seed, 2, 10000, (-40.0, 40.0), (-80.0, 80.0))
    Gen.digest((la ++ lo).iterator.map(d => BigInt(java.lang.Double.doubleToLongBits(d)).toByteArray))
  }

  private def imagesDigest(seed: Long): String = {
    val base = Gen.imageBase(seed, 200)
    Gen.digest((base until base + 200).iterator.map(i => ImageTable.makeRow(i).bytes))
  }

  def run(root: Path): Unit = {
    val work = root.resolve(".bench_build").resolve("work").resolve("selftest")
    Workloads.rmrf(work)
    Files.createDirectories(work)
    val (a, b) = (work.resolve("a.osm.pbf"), work.resolve("b.osm.pbf"))
    expect(pbfDigest(11, a) == pbfDigest(11, b), "same seed -> byte-identical PBF scene")
    expect(pbfDigest(11, a) != pbfDigest(12, b), "other seed -> different PBF scene")
    expect(pointsDigest(11) == pointsDigest(11), "same seed -> identical points")
    expect(pointsDigest(11) != pointsDigest(12), "other seed -> different points")
    expect(imagesDigest(11) == imagesDigest(11), "same seed -> identical image rows")
    expect(imagesDigest(11) != imagesDigest(12), "other seed -> different image rows")

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = Main.session(root, cpus)
    try {
      Workloads.Names.foreach { name =>
        val dir = work.resolve(name)
        Files.createDirectories(dir)
        val w = Workloads(name, new Ctx(spark, dir, 3, cpus))
        w.setup()
        w.op(None)
        val ok = w.checks()
        ok.filterNot(_.ok).foreach(ch => println(s"  ${ch.name}: ${ch.detail}"))
        expect(ok.forall(_.ok), s"$name: output checks pass")
        w.mutatedChecks().foreach { case (what, run) =>
          expect(run().exists(!_.ok), s"$name: checks fail with $what")
        }
      }
    } finally spark.stop()
    println(if (failures == 0) "selftest ok" else s"selftest: $failures failure(s)")
    if (failures > 0) sys.exit(1)
  }
}
