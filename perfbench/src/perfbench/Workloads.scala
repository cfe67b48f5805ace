package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.core.{AppConfig, Layer, Schemas}
import graft.ingest.{IngestResult, IngestSpec, Ingestor}
import graft.models.{InsuranceModels, ModelGraph, ModelRun}
import graft.operators.{DupGroups, GopherQuality, IvfIndex, TextDedup}
import graft.pipeline.{Orchestrator, PipelineReport}
import graft.sources.ParquetTableFormat

final case class Check(name: String, ok: Boolean, detail: String)

/** A named measurement with its unit, direction and sample count. */
final case class Metric(name: String, value: Double, unit: String,
    better: String, n: Int)

/** What one iteration did: library operations attempted and failed, and
  * per-operation times where the workload has many like operations.
  */
final case class IterOut(ops: Int, failedOps: Int, opSamples: Seq[Double] = Nil)

trait Workload {
  /** Input items one iteration processes, and what they are. */
  def items: Long
  def itemUnit: String
  /** Writes the seeded inputs; excluded from setup time. */
  def generate(): Unit
  def iterate(i: Int, t: Tracer): IterOut
  /** Untimed work after iteration `i`: output checks, cleanup and, when
    * traced, the probes that feed per-layer counters.
    */
  def afterIteration(i: Int, t: Tracer): Unit
  /** Every output check evaluated so far, passed or failed. */
  def checks: Seq[Check] = results.toSeq
  /** The workload's own named end-to-end metrics, from the timed walls. */
  def details(walls: Seq[Double], opSamples: Seq[Double]): Seq[Metric]
  /** Per-layer counters of the workload's modules, one value per traced
    * iteration.
    */
  def counters: Map[String, Seq[Double]] = cnt.map { case (k, v) => k -> v.toSeq }.toMap
  /** Anything else worth printing in the detail line. */
  def extra: Map[String, Any] = Map.empty

  private val results = ArrayBuffer[Check]()
  protected def check(name: String, ok: Boolean, detail: => String): Unit =
    results += Check(name, ok, if (ok) "" else detail)

  private val cnt = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  protected def add(k: String, v: Double): Unit = cnt.getOrElseUpdate(k, ArrayBuffer()) += v
}

object Workload {
  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** The data files under a path, ignoring checksum and marker files. */
  def dataBytes(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) {
      val n = f.getName
      if (n.startsWith(".") || n.startsWith("_")) (0L, 0L) else (f.length(), 1L)
    } else f.listFiles().map(dataBytes).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}

// --------------------------------------------------------------- medallion

/** Two batches (initial, then delta) through the medallion pipeline into a
  * fresh namespace per iteration. Untraced: `Orchestrator.run` per batch.
  * Traced: the same public calls `Orchestrator.run` makes at parallelism 1,
  * one span each — `Ingestor.ingest` per entity, then one single-model
  * `ModelGraph` per entry of `ModelGraph.order`.
  */
final class MedallionEtl(spark: SparkSession, work: File, seed: Long) extends Workload {
  val nClaims = 60000; val nPolicies = 6000
  val nDeltaClaims = 6000; val nDeltaPolicies = 600
  private var in: Gen.EtlInputs = _
  private val fmt = ParquetTableFormat
  private val violations = ArrayBuffer[Double]()
  private val writeAmp = ArrayBuffer[Double]()

  def items: Long = in.totalRows
  def itemUnit = "rows"

  def generate(): Unit =
    in = Gen.etl(new File(work, "etl"), seed, nClaims, nPolicies, nDeltaClaims, nDeltaPolicies)

  private def cfg(i: Int) = AppConfig(appName = s"pbetl$i", maxRetries = 0, retryDelayMs = 0)

  /** Raw layer contract: the 13 columns of each entity, read as text so the
    * silver models do the cleansing (amounts with separators, three date
    * formats) instead of the CSV parser nulling them.
    */
  private def raw(s: StructType) =
    StructType(s.fields.map(f => StructField(f.name, StringType, nullable = true)))

  private def specs(c: AppConfig, claims: File, policies: File) = Seq(
    IngestSpec("claims", claims.toURI.toString, c.tableName(Layer.Bronze, "claims"),
      schema = Some(raw(Schemas.claims)), dedupKeys = Seq("claim_id"),
      orderCol = Some("updated_at")),
    IngestSpec("policies", policies.toURI.toString, c.tableName(Layer.Bronze, "policies"),
      schema = Some(raw(Schemas.policies)), dedupKeys = Seq("policy_id"),
      orderCol = Some("updated_at")))

  private val reports = mutable.Map[Int, Seq[PipelineReport]]()

  def iterate(i: Int, t: Tracer): IterOut = {
    val c = cfg(i)
    val batches = Seq(("initial", in.claims, in.policies), ("delta", in.deltaClaims, in.deltaPolicies))
    val rs = batches.map { case (run, cf, pf) =>
      if (!t.enabled)
        new Orchestrator(c, fmt, retrySleepMs = 0).run(spark, specs(c, cf, pf),
          InsuranceModels.graph(c, run))
      else t("pipeline.run") { tracedRun(t, c, run, specs(c, cf, pf)) }
    }
    reports(i) = rs
    IterOut(ops = rs.size, failedOps = rs.count(!_.ok))
  }

  private def tracedRun(t: Tracer, c: AppConfig, run: String,
      ss: Seq[IngestSpec]): PipelineReport = {
    new Orchestrator(c, fmt, retrySleepMs = 0).bootstrap(spark)
    val batchId = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    val ingestor = new Ingestor(fmt, batchId)
    val ing = ss.map(s => t(s"ingest.${s.name}")(ingestor.ingest(spark, s)))
    val graph = new ModelGraph(InsuranceModels.graph(c, run), fmt)
    val runs = graph.order.map { m =>
      val layer = m.name.takeWhile(_ != '_')
      t(s"models.$layer.${m.name}") {
        new ModelGraph(Seq(m.copy(deps = Nil)), fmt,
          failuresTable = Some(c.tableName(Layer.Gold, "test_failures")),
          runId = batchId).run(spark).head
      }
    }
    PipelineReport(Nil, ing, runs)
  }

  def afterIteration(i: Int, tr: Tracer): Unit = {
    val c = cfg(i)
    val Seq(r1, r2) = reports.remove(i).get
    def expectIngest(r: PipelineReport, which: String, claims: Gen.CsvFacts,
        policies: Gen.CsvFacts): Unit = {
      check(s"$which.ok", r.ok && r.ingests.forall(_.ok) && r.models.forall(_.ok),
        (r.steps.filterNot(_.ok).map(_.detail) ++ r.ingests.flatMap(_.error) ++
          r.models.flatMap(_.error)).mkString("; "))
      Seq("claims" -> claims, "policies" -> policies).foreach { case (n, f) =>
        val got = r.ingests.find(_.name == n)
        val ok = got.exists(g => g.rowsRead == f.rows && g.rowsWritten == f.distinctIds &&
          g.duplicatesRemoved == f.rows - f.distinctIds)
        check(s"$which.ingest.$n.counts", ok, s"got $got, want read=${f.rows} written=${f.distinctIds}")
      }
    }
    expectIngest(r1, "initial", in.claimsFacts, in.policiesFacts)
    expectIngest(r2, "delta", in.deltaClaimsFacts, in.deltaPoliciesFacts)
    // gold n_claims totals the silver rows: both batches' deduped claims
    // (facts that hold whichever tied duplicate survives)
    val want = in.claimsFacts.distinctIds + in.deltaClaimsFacts.distinctIds
    val gold = spark.table(c.tableName(Layer.Gold, "claims_summary"))
      .agg(sum("n_claims")).head().getLong(0)
    check("gold.n_claims_sum", gold == want, s"got $gold want $want")
    violations += r2.models.map(_.testViolations).sum.toDouble

    val dbs = Layer.all.map(c.database)
    val dirs = dbs.map(db => new File(new java.net.URI(spark.catalog.getDatabase(db).locationUri)))
    val (bytes, files) = dirs.map(Workload.dataBytes).foldLeft((0L, 0L)) {
      case ((a, b), (x, y)) => (a + x, b + y)
    }
    writeAmp += bytes.toDouble / in.totalBytes
    if (tr.enabled) {
      add("ingest.rows_read", (r1.ingests ++ r2.ingests).map(_.rowsRead).sum)
      add("ingest.rows_written", (r1.ingests ++ r2.ingests).map(_.rowsWritten).sum)
      add("ingest.dups_removed", (r1.ingests ++ r2.ingests).map(_.duplicatesRemoved).sum)
      add("sources.bytes_written", bytes)
      add("sources.files_written", files)
      add("quality.violations", violations.last)
      // rule probe on each silver table, outside the iteration's span
      Seq(("silver_claims", InsuranceModels.claimsRules(c)),
          ("silver_policies", InsuranceModels.policiesRules(c))).foreach { case (n, rs) =>
        tr(s"quality.rules.$n") { rs.failures(spark.table(c.tableName(Layer.Silver, n))).count() }
      }
    }
    dbs.foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
  }


  def details(walls: Seq[Double], ops: Seq[Double]): Seq[Metric] = Seq(
    Metric("etl_rows_per_s", items / Stats.median(walls), "rows/s", "higher", walls.size),
    Metric("etl_write_amp", Stats.median(writeAmp.toSeq), "B/B", "lower", writeAmp.size),
    Metric("quality.violations_min", violations.min, "count", "none", violations.size),
    Metric("quality.violations_max", violations.max, "count", "none", violations.size))
}

// ------------------------------------------------------------------ corpus

/** The LLM-data curation path over a seeded corpus: exact dedup, Gopher
  * quality filter, MinHash near-duplicate groups (library-default xxhash
  * family), anti-join of non-canonical members and a parquet write of the
  * kept documents; then an IVF index build, save, load and top-10 query.
  * Untraced, the steps are chained as a library caller would chain them, so
  * the library's own materialisation policy is what gets timed. Traced,
  * each step's output is persisted and counted so that a span bills the
  * step that did the work; `trace.overhead_s` shows what that costs.
  */
final class CorpusCuration(spark: SparkSession, work: File, seed: Long) extends Workload {
  val nDocs = 6000; val nVecs = 8000; val dim = 64; val nQueries = 256
  val shingle = 5; val perms = 128; val bands = 32; val minJaccard = 0.5
  val cells = 16; val nprobe = 4; val k = 10
  private var corpus: Gen.Corpus = _
  private var exact: Array[Array[Long]] = _
  private def path(n: String) = new File(work, s"corpus/$n").toURI.toString
  private val kept = ArrayBuffer[Long]()
  private val nearRecall = ArrayBuffer[Double]()
  private val ivfRecall = ArrayBuffer[Double]()
  private var lastQuery: Array[Row] = _

  def items: Long = nDocs
  def itemUnit = "docs"

  def generate(): Unit = {
    import spark.implicits._
    corpus = Gen.corpus(seed, nDocs)
    val v = Gen.vectors(seed, nVecs, dim, 32, nQueries)
    exact = Gen.exactTopK(v, k)
    spark.sparkContext.parallelize(corpus.ids.zip(corpus.texts).toSeq, 4).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(path("docs"))
    spark.sparkContext.parallelize(v.ids.indices.map(i => (v.ids(i), v.vecs(i).toSeq)), 4)
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(path("vectors"))
    v.queryIds.indices.map(i => (v.queryIds(i), v.queries(i).toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .coalesce(1).write.mode("overwrite").parquet(path("queries"))
  }

  def iterate(i: Int, t: Tracer): IterOut = {
    def step(df: DataFrame) = if (t.enabled) Workload.materialize(df) else df
    val docs = spark.read.parquet(path("docs"))
    val deduped = t("operators.exact_dedup") {
      step(TextDedup.dropExactDuplicates(docs, "doc_id", "text"))
    }
    val good = t("operators.quality_filter") {
      step(GopherQuality.filterPassing(deduped, "text", Gen.stopwords.toSeq))
    }
    val groups = t("operators.near_dup") {
      step(DupGroups.minHashDupGroups(good, "doc_id", "text",
        n = shingle, k = perms, bands = bands, minJaccard = minJaccard))
    }
    t("sources.write_kept") {
      good.join(groups.filter(col("doc_id") =!= col("group_id")).select("doc_id"),
        Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(path("kept"))
    }
    if (t.enabled) Seq(groups, good, deduped).foreach(_.unpersist())
    val vecs = spark.read.parquet(path("vectors"))
    val index = t("operators.ivf_build") { IvfIndex.build(vecs, kCells = cells, iters = 3) }
    t("sources.ivf_save") { IvfIndex.save(index, path("ivf")) }
    vecs.unpersist()
    val loaded = t("sources.ivf_load") { IvfIndex.load(spark, path("ivf")) }
    lastQuery = t("operators.ivf_query") {
      IvfIndex.query(loaded, spark.read.parquet(path("queries")), k = k, nprobe = nprobe)
        .select("query_id", "neighbor_id").collect()
    }
    IterOut(ops = 8, failedOps = 0)
  }

  def afterIteration(i: Int, t: Tracer): Unit = {
    val keptIds = spark.read.parquet(path("kept")).select("doc_id").collect().map(_.getLong(0)).toSet
    kept += keptIds.size
    check("kept_count_stable", kept.distinct.size == 1, s"kept counts ${kept.mkString(",")}")
    val exactLeft = corpus.exactPairs.count { case (a, b) => keptIds(a) && keptIds(b) }
    check("exact_duplicates_removed", exactLeft == 0, s"$exactLeft planted exact pairs both kept")
    val nr = corpus.nearPairs.count { case (a, b) => !(keptIds(a) && keptIds(b)) }.toDouble /
      corpus.nearPairs.length
    nearRecall += nr
    check("planted_near_dup_recall", nr >= 0.9, s"recall $nr < 0.9")
    val got = lastQuery.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val qIds = (0 until nQueries).map(q => 1000000000L + q)
    val rec = qIds.zip(exact).map { case (q, ex) =>
      got.getOrElse(q, Set.empty[Long]).intersect(ex.toSet).size.toDouble / k
    }.sum / nQueries
    ivfRecall += rec
    check("ivf_recall_at_10", rec >= 0.8, s"recall $rec < 0.8")
    if (t.enabled) {
      add("corpus.planted_recall", nr)
      add("corpus.kept_docs", keptIds.size)
      t("probe.lsh") {
        val sigs = TextDedup.minHashSignatures(spark.read.parquet(path("docs")), "doc_id",
          "text", shingle, perms)
        val cands = TextDedup.lshCandidatePairs(sigs, bands)
        val nc = cands.count()
        val nv = TextDedup.minHashVerify(cands, sigs, minJaccard).count()
        sigs.unpersist()
        add("corpus.lsh_candidates", nc)
        add("corpus.lsh_verified", nv)
        add("corpus.lsh_precision", if (nc == 0) 0.0 else nv.toDouble / nc)
      }
    }
  }

  def details(walls: Seq[Double], ops: Seq[Double]): Seq[Metric] = Seq(
    Metric("corpus_docs_per_s", items / Stats.median(walls), "docs/s", "higher", walls.size),
    Metric("ivf_recall_at_10", Stats.median(ivfRecall.toSeq), "fraction", "higher", ivfRecall.size),
    Metric("planted_near_dup_recall", Stats.median(nearRecall.toSeq), "fraction", "higher",
      nearRecall.size))
}

// -------------------------------------------------------------- gate suite

/** A fixed, module-stratified list of `SparkEntry.queries` gates over seeded
  * tables, each run cold: the cache is cleared before every gate and the
  * output is forced through the `noop` sink with its row count observed.
  * The seed makes the tables and shuffles the gate order.
  */
final class GateSuite(spark: SparkSession, work: File, seed: Long,
    gateNames: Seq[String]) extends Workload {
  val sf = 0.02
  private val dir = new File(work, "gates").getAbsolutePath
  private lazy val all = graft.SparkEntry.queries
  private val order = new scala.util.Random(seed).shuffle(gateNames)
  private val rows = mutable.Map[String, mutable.Set[Long]]()
  private val gateTimes = mutable.Map[String, ArrayBuffer[Double]]()
  private val errors = mutable.LinkedHashMap[String, String]()

  /** Gate name → its `graft.queries` module. */
  val moduleOf: Map[String, String] = Seq(
    "Relational" -> graft.queries.Relational.defs, "Quality" -> graft.queries.Quality.defs,
    "Text" -> graft.queries.Text.defs, "Vector" -> graft.queries.Vector.defs,
    "Stream" -> graft.queries.Stream.defs, "Medallion" -> graft.queries.Medallion.defs,
    "Storage" -> graft.queries.Storage.defs, "Extra" -> graft.queries.Extra.defs,
    "Analytics" -> graft.queries.Analytics.defs, "Cleaning" -> graft.queries.Cleaning.defs)
    .flatMap { case (m, defs) => defs.keys.map(_ -> m) }.toMap

  def items: Long = gateNames.size
  def itemUnit = "gates"

  def generate(): Unit = GateData.write(spark, dir, seed, Gen.GateTables(sf))

  /** Runs one gate cold; returns its row count. */
  def runGate(name: String): Long = {
    val df = all(name)(spark, dir)
    val obs = Observation(s"rows_$name")
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def iterate(i: Int, t: Tracer): IterOut = {
    val times = ArrayBuffer[Double]()
    var fails = 0
    order.foreach { g =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        val n = t(s"queries.${moduleOf.getOrElse(g, "unknown")}") { runGate(g) }
        rows.getOrElseUpdate(g, mutable.Set()) += n
      } catch {
        case e: Exception =>
          fails += 1
          errors(g) = e.toString.take(300)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      times += dt
      gateTimes.getOrElseUpdate(g, ArrayBuffer()) += dt
    }
    IterOut(ops = order.size, failedOps = fails, opSamples = times.toSeq)
  }

  def afterIteration(i: Int, t: Tracer): Unit = ()

  /** A gate that threw is a failed operation (see `iterate`); these checks
    * are that each gate's row count is the same in every pass.
    */
  override def checks: Seq[Check] =
    rows.keys.toSeq.sorted.map(g =>
      Check(s"gate.$g.rows_stable", rows(g).size == 1,
        if (rows(g).size == 1) "" else rows(g).toSeq.sorted.mkString(",")))

  def details(walls: Seq[Double], ops: Seq[Double]): Seq[Metric] = {
    // the highest tail percentile with at least 10 samples above it, if any
    val tail = Stats.highestPercentile(ops.size, Seq(0.75, 0.8, 0.9, 0.95), 10).map(p =>
      Metric(s"gate_p${(p * 100).round}_s", Stats.percentile(ops, p), "s", "lower", ops.size))
    Seq(
      Metric("gate_suite_s", Stats.median(walls), "s", "lower", walls.size),
      Metric("gate_p50_s", Stats.median(ops), "s", "lower", ops.size)) ++ tail
  }


  /** Every pass's time per gate (warm-up pass first) and its row count. */
  override def extra: Map[String, Any] = Map(
    "gate_times_s" -> gateTimes.toSeq.sortBy(_._1).map { case (g, ts) => g -> ts.toSeq }.toMap,
    "gate_rows" -> rows.map { case (g, n) => g -> n.toSeq.sorted }.toMap,
    "gate_errors" -> errors.toMap)
}

/** Writes the gate tables as parquet with the column types of the
  * library's test tables (timestamps without time zone, float arrays).
  */
object GateData {
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    .map { case (k, v) => k -> StructType.fromDDL(v) }

  private def toRow(schema: StructType, v: Array[Any]): Row =
    Row.fromSeq(schema.fields.zip(v).map {
      case (f, x: Long) if f.dataType == TimestampNTZType =>
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(x, 1000000L),
          (Math.floorMod(x, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC)
      case (_, a: Array[Float]) => a.toSeq
      case (_, x) => x
    }.toIndexedSeq)

  /** One Spark job per table, submitted together so the small tables do not
    * queue behind lineitem; every job has ended when this returns.
    */
  def write(spark: SparkSession, dir: String, seed: Long, t: Gen.GateTables): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val jobs = Gen.gateTableNames.map { name =>
        Future {
          val schema = schemas(name)
          val rdd = spark.sparkContext.parallelize(Seq(name), 1)
            .flatMap(n => Gen.gateRows(n, seed, t).map(v => toRow(schema, v)))
          spark.createDataFrame(rdd, schema)
            .write.mode("overwrite").parquet(s"$dir/$name.parquet")
        }
      }
      jobs.foreach(Await.result(_, Duration.Inf))
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }
}
