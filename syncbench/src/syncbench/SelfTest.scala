package syncbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The benchmark's own tests:
  *  - the generator is deterministic per seed and its closed-form
  *    expectations are self-consistent on a tiny seed;
  *  - span self-time arithmetic;
  *  - job-group attribution on a small local session.
  *
  * {{{ python3 syncbench/run.py --self-test }}}
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") } catch {
      case e: Throwable => failures += 1; println(s"FAIL $name: $e")
    }

  private def assertEq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  val Tiny = Size(orgs = 8, entities = 60, things = 10, persons = 12, collections = 12,
    batches = 30, docs = 300)

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
      .sortBy(_.getPath)

  def main(args: Array[String]): Unit = {
    val work = new File(args(0))

    test("generator: same seed gives byte-identical files, another seed does not") {
      val dirs = Seq(7L, 7L, 8L).zipWithIndex.map { case (seed, i) =>
        val d = new File(work, s"gen-$i"); new Gen(seed, Tiny).writeAll(d); d
      }
      val Seq(a, b, c) = dirs.map(files)
      assertEq(a.map(_.getName), b.map(_.getName), "file names")
      a.zip(b).foreach { case (x, y) =>
        assert(java.util.Arrays.equals(Files.readAllBytes(x.toPath), Files.readAllBytes(y.toPath)),
          s"${x.getName} differs between two runs of one seed")
      }
      assert(a.zip(c).exists { case (x, y) =>
        !java.util.Arrays.equals(Files.readAllBytes(x.toPath), Files.readAllBytes(y.toPath))
      }, "seeds 7 and 8 gave identical inputs")
    }

    test("generator: closed-form expectations are self-consistent") {
      val g = new Gen(7, Tiny)
      val full = g.rebuildExpect
      val es = g.entities
      assertEq(full("graph.intellectual_entity").length, es.length, "entity rows")
      assertEq(full("graph.representation").length, es.length, "one representation each")
      assertEq(full("graph.file").length, es.map(_.files).sum, "file rows")
      assertEq(g.docsExpect(es).length, es.length, "one document per entity")
      Seq("graph.intellectual_entity", "graph.file", "graph.organization")
        .foreach(t => assertEq(full(t).distinct.length, full(t).length, s"$t keys unique"))
      // every batch: tombstoned and unlicensed entities leave the live set,
      // inserts join it, and every tiny organization empties on schedule
      g.batches.zip(g.statesAfter.zip(g.statesAfter.tail)).foreach { case (b, (before, after)) =>
        val ids = after.map(_.i).toSet
        (b.tombstones ++ b.unlicensed).foreach(e => assert(!ids(e.i), s"batch ${b.n}: e${e.i} survived"))
        b.upserts.foreach(e => assert(ids(e.i), s"batch ${b.n}: e${e.i} missing"))
        assertEq(after.length, before.length + b.upserts.count(e => !before.exists(_.i == e.i)) -
          b.deletes, s"batch ${b.n} live count")
      }
      val last = g.statesAfter.last
      assert((Tiny.orgs - Gen.TinyOrgs until Tiny.orgs).forall(o => !last.exists(_.org == o)),
        "tiny organizations still own entities after their scheduled tombstones")
      val inc = g.stateExpect(last)
      assertEq(inc("graph.intellectual_entity").length, last.length, "incremental entity rows")
      // corpus: keepers are real ids, one per planted group, and drop the
      // low-quality and duplicate documents
      val ids = g.corpus.map(_._1)
      assertEq(ids.distinct.length, ids.length, "corpus ids unique")
      assert(g.corpusKeepers.forall(ids.toSet), "keeper ids exist")
      assert(g.corpusKeepers.length < ids.length, "duplicates planted")
      assert(g.corpus.length >= Tiny.docs, "corpus size")
    }

    test("spans: self time subtracts the union of the children") {
      def s(id: Int, parent: Int, a: Long, b: Long) = Span(id, "r", s"s$id", parent, a, b, a, b)
      val spans = Seq(s(0, -1, 0, 100), s(1, 0, 10, 30), s(2, 0, 20, 50), s(3, 0, 60, 70),
        s(4, 3, 62, 65))
      val self = Spans.selfNs(spans)
      assertEq(self(0), 50L, "parent self time") // children cover 10-50 and 60-70
      assertEq(self(1), 20L, "leaf self time")
      assertEq(self(3), 7L, "nested self time")
      assertEq(Spans.covered(Seq((0L, 10L), (5L, 15L), (30L, 40L)), 8, 35), 12L, "clipped union")
    }

    test("trace: jobs, stages and tasks are charged to the job group that ran them") {
      val spark = SyncBench.session(work, work, 2)
      try {
        val t = new Trace(spark, 2)
        t.install()
        t.span("alpha", group = true)(spark.range(0, 1000, 1, 2).count())
        t.span("beta", group = true) {
          spark.range(0, 1000, 1, 3).groupBy((col("id") % 7).as("k")).count().collect()
        }
        spark.range(10).count() // outside any layer: charged to none
        val report = t.report(Seq("alpha", "beta", "gamma")).map(m => m._1 -> m._2).toMap
        assert(report("alpha.jobs") >= 1 && report("beta.jobs") >= 1, s"jobs: $report")
        assert(report("alpha.tasks") >= 2, s"alpha tasks: ${report("alpha.tasks")}")
        assert(report("beta.stages") >= 2, s"beta stages: ${report("beta.stages")}")
        assert(report("beta.shuffle_mb") > 0, "beta shuffled")
        assertEq(report("gamma.jobs"), 0.0, "a layer that never ran")
        assert(report("alpha.wall_s") > 0 && report("alpha.task_s") >= 0, "timings")
      } finally spark.stop()
    }

    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
