package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

/** Tests of the benchmark itself (no Spark session needed):
  *  - the same seed gives byte-identical inputs, another seed different ones;
  *  - span accounting is consistent (self >= 0, children inside parents,
  *    self times sum to the root's wall, driver time within wall, and
  *    iteration totals exclude work started after the iteration);
  *  - each reported percentile has the sample count it claims above it.
  *
  * Run with `python3 perfbench/run.py --selftest`; exits non-zero on failure.
  */
object SelfTest {
  private val failures = ArrayBuffer[String]()
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    if (scala.util.Try(cond).getOrElse(false)) passed += 1 else failures += name

  private def bytes(write: java.io.OutputStream => Unit): Array[Byte] = {
    val b = new ByteArrayOutputStream(); write(b); b.toByteArray
  }

  private def etlBytes(dir: File, seed: Long): Seq[Array[Byte]] = {
    val in = Gen.etl(dir, seed, 3000, 300, 300, 30)
    Seq(in.claims, in.policies, in.deltaClaims, in.deltaPolicies)
      .map(f => Files.readAllBytes(f.toPath))
  }

  private def corpusBytes(seed: Long): Array[Byte] = bytes { out =>
    val c = Gen.corpus(seed, 400)
    Gen.encode(out, c.ids.indices.iterator.map(i => Array[Any](c.ids(i), c.texts(i))))
    Gen.encode(out, (c.exactPairs ++ c.nearPairs).iterator.map(p => Array[Any](p._1, p._2)))
    val v = Gen.vectors(seed, 300, 16, 4, 5)
    Gen.encode(out, v.ids.indices.iterator.map(i => Array[Any](v.ids(i), v.vecs(i), v.labels(i))))
    Gen.encode(out, v.queries.iterator.map(q => Array[Any](q)))
  }

  private def gateBytes(seed: Long): Array[Byte] = bytes { out =>
    Gen.gateTableNames.foreach(t => Gen.encode(out, Gen.gateRows(t, seed, Gen.GateTables(0.001))))
  }

  private def same(a: Seq[Array[Byte]], b: Seq[Array[Byte]]) =
    a.size == b.size && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }

  def inputs(work: File): Unit = {
    val a = etlBytes(new File(work, "a"), 11)
    val b = etlBytes(new File(work, "b"), 11)
    val c = etlBytes(new File(work, "c"), 12)
    check("etl: same seed, byte-identical CSVs")(same(a, b))
    check("etl: other seed, every CSV differs")(a.zip(c).forall { case (x, y) => !java.util.Arrays.equals(x, y) })
    check("corpus: same seed, byte-identical")(same(Seq(corpusBytes(11)), Seq(corpusBytes(11))))
    check("corpus: other seed differs")(!same(Seq(corpusBytes(11)), Seq(corpusBytes(12))))
    check("gate tables: same seed, byte-identical")(same(Seq(gateBytes(11)), Seq(gateBytes(11))))
    check("gate tables: other seed differs")(!same(Seq(gateBytes(11)), Seq(gateBytes(12))))
    val in = Gen.etl(new File(work, "d"), 11, 3000, 300, 300, 30)
    check("etl: duplicates and updated_at ties are planted")(
      in.claimsFacts.rows > in.claimsFacts.distinctIds && in.claimsFacts.ties > 0)
    val cp = Gen.corpus(11, 400)
    check("corpus: planted pairs are exact copies / near copies")(
      cp.exactPairs.forall { case (x, y) =>
        cp.texts(cp.ids.indexOf(x)) == cp.texts(cp.ids.indexOf(y)) } &&
        cp.nearPairs.forall { case (x, y) =>
          cp.texts(cp.ids.indexOf(x)) != cp.texts(cp.ids.indexOf(y)) })
  }

  def spans(): Unit = {
    val t = new Tracer(true)
    t("root") {
      Thread.sleep(5)
      t("a") { Thread.sleep(20); t("a.inner") { Thread.sleep(10) } }
      t("b") { Thread.sleep(15) }
      Thread.sleep(5)
    }
    val ss = t.spans.toSeq
    val byId = ss.map(s => s.id -> s).toMap
    // synthetic jobs: one inside a.inner, one inside b, one straddling a/b
    val rec = new Recorder
    val a = ss.find(_.name == "a").get; val b = ss.find(_.name == "b").get
    val inner = ss.find(_.name == "a.inner").get
    val root = ss.find(_.name == "root").get
    rec.jobs(0) = JobRec(0, inner.startMs, inner.endMs, Seq(0))
    rec.jobs(1) = JobRec(1, b.startMs, b.endMs, Seq(1))
    Seq(0 -> 40L, 1 -> 7L).foreach { case (id, ms) =>
      val agg = new StageAgg; agg.runMs = ms; rec.stageAgg(id) = agg
    }
    val st = Accounting.spanStats(ss, rec).map(x => x.name -> x).toMap
    check("spans: self_s >= 0")(st.values.forall(_.selfS >= 0))
    check("spans: children lie inside their parent")(ss.filter(_.parent >= 0).forall { c =>
      val p = byId(c.parent); c.startMs >= p.startMs && c.endMs <= p.endMs && c.wallNs <= p.wallNs
    })
    check("spans: self times sum to the root wall")(
      math.abs(st.values.map(_.selfS).sum - st("root").wallS) < 1e-9)
    check("spans: driver_s within wall")(st.values.forall(x => x.driverS <= x.wallS + 1e-3))
    check("spans: task_s rolls up to ancestors")(
      st("a.inner").taskS == 0.04 && st("a").taskS == 0.04 && st("root").taskS == 0.047)
    // a job and a query execution that start after the iteration (an
    // untimed probe) are not billed to it
    rec.jobs(2) = JobRec(2, root.endMs + 5, root.endMs + 9, Seq(2))
    val probe = new StageAgg; probe.runMs = 1000; rec.stageAgg(2) = probe
    rec.plans += PlanRec(root.startMs, 1, 2, 3)
    rec.plans += PlanRec(root.endMs + 5, 100, 100, 100)
    val iterSpans = ss.map(x => if (x.name == "root") x.copy(name = "bench.iteration") else x)
    val (it, _) = Layers.iteration(iterSpans, rec, 4)
    check("iteration totals exclude work that started after it")(
      it("spark.jobs") == 2 && it("spark.task_s") == 0.047 && it("plan.executions") == 1 &&
        it("plan.analysis_ms") == 1)
    check("covered: union of overlapping intervals")(
      Accounting.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25 &&
        Accounting.covered(Seq((0L, 10L)), 5, 8) == 3)
  }

  def percentiles(): Unit = {
    val cands = Seq(0.5, 0.75, 0.8, 0.9, 0.95)
    val ok = (1 to 300).forall { n =>
      val xs = (1 to n).map(_.toDouble)
      cands.forall { p =>
        val v = Stats.percentile(xs, p)
        xs.count(_ > v) == Stats.above(n, p) && xs.count(_ <= v) >= p * n
      } && Stats.highestPercentile(n, cands, 10).forall(p =>
        Stats.above(n, p) >= 10 && cands.filter(_ > p).forall(q => Stats.above(n, q) < 10))
    }
    check("percentiles: each claims its sample count above it")(ok)
    check("percentiles: p95 of 255 leaves 12 above")(Stats.above(255, 0.95) == 12)
    check("overhead pairs each traced wall with its untraced neighbours, skipping the first")(
      Stats.pairedOverheads(Seq(9.0, 5.0, 7.0, 5.0), Seq(1.0, 7.0, 8.0)) == Seq(1.0, 2.0))
    check("median of even count averages the middle pair")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args.headOption.getOrElse(sys.error("usage: SelfTest <work dir>")))
    inputs(work); spans(); percentiles()
    failures.foreach(f => println(s"FAIL $f"))
    println(s"selftest: $passed passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
