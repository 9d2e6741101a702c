package graftbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.sources.kvbin.KVBin

/** Self-test of the harness:
  *   graftbench.SelfTest --work DIR
  * checks that the generators are deterministic per seed, that the
  * output checks reject a wrong answer, and that the loop counts a
  * thrown op and a failed check as failures. Exits non-zero on failure. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = new File(argv(argv.indexOf("--work") + 1))
    work.mkdirs()
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var failures = 0
    def test(name: String)(body: => Unit): Unit =
      try { body; println(s"ok   $name") }
      catch { case NonFatal(e) => failures += 1; println(s"FAIL $name: $e") }
    def expect(ok: Boolean, what: String): Unit = if (!ok) throw new AssertionError(what)
    val tracer = new Tracer(spark)
    def ctx(seed: Long, dir: String) = new Ctx(spark, seed, new File(work, dir), tracer, 2)

    try {
      test("kv generator: same seed, byte-identical inputs; another seed, other inputs") {
        val Seq(a, b, c) = Seq(7L, 7L, 8L).map(Gen.nearSync(_, 5000, 4, 12))
        expect(a == b && a != c, "plan not determined by the seed")
        val Seq(ha, hb, hc) = Seq(a, b, c).map { p =>
          val (s, d) = Gen.frames(spark, p, 2)
          (Gen.contentHash(s), Gen.contentHash(d))
        }
        expect(ha == hb, s"frames differ for one seed: $ha vs $hb")
        expect(ha._2 != hc._2, "dst frames equal across seeds")
      }
      test("corpus generator: same seed, byte-identical corpus; another seed, another") {
        val Seq(a, b, c) = Seq(7L, 7L, 8L).map(Gen.corpus(_, 400, 12, 3, 0.8))
        expect(Gen.contentHash(a) == Gen.contentHash(b) && a.clusters == b.clusters, "corpus differs for one seed")
        expect(Gen.contentHash(a) != Gen.contentHash(c), "corpus equal across seeds")
        expect(a.clusters.nonEmpty && a.pairJaccard.values.forall(_ >= 0.8), "planted clusters missing or too far apart")
      }
      test("near-sync: verify and range checks pass; a dst the plan does not describe fails") {
        val wl = new NearSync(ctx(3, "nearsync"), keys = 4000, regions = 4, width = 256)
        try {
          wl.setup()
          wl.op(0).check()
          // dst rewritten with one planted difference undone
          val (_, dst) = Gen.frames(spark, wl.plan.copy(planted = wl.plan.planted.tail), 2)
          Workloads.deleteTree(new File(wl.dstDir))
          KVBin.write(dst, wl.dstDir, 4)
          val caught = try { wl.op(1).check(); false } catch { case _: CheckFailed => true }
          expect(caught, "a diff missing a planted key passed the check")
        } finally wl.close()
      }
      test("dedup op passes its checks on a small corpus") {
        val dedup = new CorpusDedup(ctx(3, "dedup"), docs = 300)
        dedup.setup()
        dedup.op(0).check()
      }
      test("loop: a thrown op and a failed check both count as failed") {
        val wl = new Workload {
          val opName = "fake"
          def setup(): Unit = ()
          def op(i: Int): Done = {
            Thread.sleep(5)
            if (i % 3 == 0) throw new IllegalStateException("op failed")
            Done(1L, () => Workloads.check(i % 3 == 2, "wrong output"))
          }
          def inputHashes(): Map[String, String] = Map.empty
          def sizes: Map[String, Double] = Map.empty
        }
        val s = Loop.run(wl, tracer, 0.5, trace = false, () => ())
        expect(s.ok.size >= 6, s"only ${s.ok.size} ops ran")
        expect(s.ok.zipWithIndex.forall { case (ok, i) => ok == (i % 3 == 2) },
          s"success flags ${s.ok.mkString(",")}")
        expect(s.errors.nonEmpty, "failures recorded no error text")
      }
    } finally spark.stop()
    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("harness self-test passed")
  }
}
