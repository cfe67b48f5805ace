package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every generator is a pure function of its seed
  * and size: the same seed gives byte-identical inputs. No generator touches
  * Spark, so the bytes do not depend on partitioning or session settings.
  */
object Gen {

  // ---------------------------------------------------------------- medallion

  /** What the claims/policies generator planted, for the output checks.
    * `distinctIds` is the number of distinct raw key strings, which is what
    * ingest-time dedup keeps; `ties` counts duplicate rows whose
    * `updated_at` equals the row they duplicate.
    */
  final case class CsvFacts(rows: Long, distinctIds: Long, ties: Long, bytes: Long)

  final case class EtlInputs(
      claims: File, policies: File, deltaClaims: File, deltaPolicies: File,
      claimsFacts: CsvFacts, policiesFacts: CsvFacts,
      deltaClaimsFacts: CsvFacts, deltaPoliciesFacts: CsvFacts) {
    def totalRows: Long = Seq(claimsFacts, policiesFacts, deltaClaimsFacts,
      deltaPoliciesFacts).map(_.rows).sum
    def totalBytes: Long = Seq(claimsFacts, policiesFacts, deltaClaimsFacts,
      deltaPoliciesFacts).map(_.bytes).sum
  }

  val claimsHeader: String =
    "claim_id,policy_id,customer_id,claim_amount,claim_date,claim_type," +
      "claim_status,description,adjuster_id,settlement_amount,settlement_date," +
      "created_at,updated_at"
  val policiesHeader: String =
    "policy_id,customer_id,policy_number,policy_type,premium_amount," +
      "deductible_amount,coverage_limit,start_date,end_date,policy_status," +
      "agent_id,created_at,updated_at"

  private val types = Array("AUTO", "HOME", "LIFE", "HEALTH", "BUSINESS")
  private val claimStatuses = Array("OPEN", "CLOSED", "PENDING", "REJECTED")
  private val policyStatuses = Array("ACTIVE", "PENDING", "CANCELLED", "EXPIRED", "SUSPENDED")
  private val words = Array("rear", "collision", "water", "damage", "theft",
    "fire", "storm", "injury", "glass", "flood", "roof", "engine", "hail",
    "medical", "liability", "claim", "minor", "major", "vehicle", "property")
  private val epochDay2020 = 18262 // 2020-01-01

  private def pick[A](r: SplittableRandom, xs: Array[A]): A = xs(r.nextInt(xs.length))

  /** A date in one of the three formats Cleansing.parseDate accepts. */
  private def dirtyDate(r: SplittableRandom, epochDay: Int): String = {
    val d = java.time.LocalDate.ofEpochDay(epochDay.toLong)
    val (y, m, dd) = (d.getYear, d.getMonthValue, d.getDayOfMonth)
    r.nextInt(10) match {
      case 0 | 1 => f"$m%02d/$dd%02d/$y%04d"
      case 2 => f"$y%04d/$m%02d/$dd%02d"
      case _ => f"$y%04d-$m%02d-$dd%02d"
    }
  }

  private def timestamp(epochSec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(epochSec, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** Money with an occasional thousands separator (quoted for CSV). */
  private def dirtyAmount(r: SplittableRandom, cents: Long): String = {
    val units = (cents / 100).toString
    val frac = f"${cents % 100}%02d"
    if (cents >= 100000 && r.nextInt(8) == 0)
      "\"" + units.reverse.grouped(3).mkString(",").reverse + "." + frac + "\""
    else units + "." + frac
  }

  /** Id with the padding/lowercase noise Cleansing.normalizeId removes. */
  private def dirtyId(r: SplittableRandom, id: String): String =
    r.nextInt(20) match {
      case 0 => id.toLowerCase
      case 1 => "  " + id + " "
      case _ => id
    }

  private def dirtyEnum(r: SplittableRandom, v: String): String =
    r.nextInt(25) match {
      case 0 => v.toLowerCase
      case 1 => " " + v
      case _ => v
    }

  private def claimRow(r: SplittableRandom, rawId: String, nPolicies: Int,
      updatedAt: Long): String = {
    val pol = r.nextInt(nPolicies)
    val bad = r.nextInt(100) < 3 // rule-violating row
    val status = pick(r, claimStatuses)
    val amount = (r.nextInt(5000000) + 10000).toLong
    val claimDay = epochDay2020 + r.nextInt(1400)
    val settled = status == "CLOSED" || status == "REJECTED"
    val desc = Seq.fill(3 + r.nextInt(5))(pick(r, words)).mkString(" ")
    val fields = Array(
      rawId,
      dirtyId(r, f"POL$pol%06d"),
      dirtyId(r, f"CUS${pol % 40000}%06d"),
      dirtyAmount(r, amount),
      dirtyDate(r, claimDay),
      dirtyEnum(r, pick(r, types)),
      dirtyEnum(r, status),
      desc,
      dirtyId(r, f"ADJ${r.nextInt(900)}%03d"),
      if (settled) dirtyAmount(r, amount * (50 + r.nextInt(50)) / 100) else "",
      if (settled) dirtyDate(r, claimDay + 10 + r.nextInt(200)) else "",
      timestamp(updatedAt - 86400L * (1 + r.nextInt(30))),
      timestamp(updatedAt))
    if (bad) r.nextInt(4) match {
      case 0 => fields(3) = "-" + fields(3).replace("\"", "").replace(",", "")
      case 1 => fields(5) = "UNKNOWN"
      case 2 => fields(4) = "not-a-date"
      case _ => fields(6) = "CLOSED"; fields(9) = ""
    }
    fields.mkString(",")
  }

  private def policyRow(r: SplittableRandom, rawId: String, idx: Int,
      updatedAt: Long): String = {
    val tpe = pick(r, types)
    val coverage = (r.nextInt(990000) + 10000).toLong * 100
    val start = epochDay2020 + r.nextInt(1400)
    val bad = r.nextInt(100) < 3
    val fields = Array(
      rawId,
      dirtyId(r, f"CUS${idx % 40000}%06d"),
      f"HSX-$tpe-$idx%06d",
      dirtyEnum(r, tpe),
      dirtyAmount(r, (r.nextInt(90000) + 500).toLong * 100),
      dirtyAmount(r, if (tpe == "LIFE") 0L else coverage / (4 + r.nextInt(20))),
      dirtyAmount(r, coverage),
      dirtyDate(r, start),
      dirtyDate(r, start + 180 + r.nextInt(1000)),
      dirtyEnum(r, pick(r, policyStatuses)),
      dirtyId(r, f"AGT${r.nextInt(5000)}%04d"),
      timestamp(updatedAt - 86400L * (1 + r.nextInt(300))),
      timestamp(updatedAt))
    if (bad) r.nextInt(3) match {
      case 0 => fields(4) = "50.00"
      case 1 => fields(8) = fields(7)
      case _ => fields(10) = "agent-x"
    }
    fields.mkString(",")
  }

  /** Writes `n` base rows with ids `first until first + n` plus ~5%
    * duplicate rows; about a third of the duplicates tie on `updated_at`
    * (the rest are later amendments). `updates` are indices of keys from an
    * earlier batch to emit again (new `updated_at`), used by delta batches.
    */
  private def writeEntity(file: File, header: String, r: SplittableRandom,
      first: Int, n: Int, updates: Seq[Int],
      rawIdOf: Int => String, row: (SplittableRandom, String, Int, Long) => String,
      baseTime: Long): CsvFacts = {
    val out = new BufferedOutputStream(new FileOutputStream(file), 1 << 16)
    var rows = 0L; var ties = 0L; var bytes = 0L
    def emit(s: String): Unit = {
      val b = (s + "\n").getBytes(UTF_8); out.write(b); bytes += b.length
    }
    try {
      emit(header)
      val ids = ArrayBuffer[Int]()
      (first until first + n).foreach(ids += _)
      updates.foreach(ids += _)
      val dupsPlanted = ArrayBuffer[(Int, Long)]()
      ids.foreach { idx =>
        val t = baseTime + r.nextInt(86400 * 30)
        emit(row(r, rawIdOf(idx), idx, t)); rows += 1
        if (r.nextInt(100) < 5) dupsPlanted += ((idx, t))
      }
      dupsPlanted.foreach { case (idx, t) =>
        val tie = r.nextInt(3) == 0
        if (tie) ties += 1
        emit(row(r, rawIdOf(idx), idx, if (tie) t else t + 1 + r.nextInt(86400)))
        rows += 1
      }
      CsvFacts(rows, ids.distinct.size.toLong, ties, bytes)
    } finally out.close()
  }

  /** Raw key strings are fixed per index (noise included), so every copy
    * of a key carries the same raw string and ingest-time dedup sees it.
    */
  private def rawKey(seed: Long, prefix: String, idx: Int, width: Int): String = {
    val r = new SplittableRandom(seed * 1000003L + idx)
    dirtyId(r, prefix + String.format(s"%0${width}d", Int.box(idx)))
  }

  def etl(dir: File, seed: Long, nClaims: Int, nPolicies: Int,
      nDeltaClaims: Int, nDeltaPolicies: Int): EtlInputs = {
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    val base = 1704067200L // 2024-01-01
    def claimKey(i: Int) = rawKey(seed, "CLM", i, 7)
    def policyKey(i: Int) = rawKey(seed ^ 0x5bd1e995L, "POL", i, 6)
    val cRow = (rr: SplittableRandom, id: String, _: Int, t: Long) =>
      claimRow(rr, id, nPolicies + nDeltaPolicies, t)
    val pRow = (rr: SplittableRandom, id: String, i: Int, t: Long) => policyRow(rr, id, i, t)
    val f = (n: String) => new File(dir, n)
    val c = writeEntity(f("claims.csv"), claimsHeader, r.split(), 0, nClaims,
      Nil, claimKey, cRow, base)
    val p = writeEntity(f("policies.csv"), policiesHeader, r.split(), 0, nPolicies,
      Nil, policyKey, pRow, base)
    // delta: half new claim keys, half updates of claims from the initial
    // batch; policies only gain new keys (an updated policy would repeat its
    // key in silver and fan out the gold claims join)
    val ur = r.split()
    val cUpd = Seq.fill(nDeltaClaims / 2)(ur.nextInt(nClaims)).distinct
    val dc = writeEntity(f("claims_delta.csv"), claimsHeader, r.split(), nClaims,
      nDeltaClaims - cUpd.size, cUpd, claimKey, cRow, base + 86400L * 60)
    val dp = writeEntity(f("policies_delta.csv"), policiesHeader, r.split(),
      nPolicies, nDeltaPolicies, Nil, policyKey, pRow, base + 86400L * 60)
    EtlInputs(f("claims.csv"), f("policies.csv"), f("claims_delta.csv"),
      f("policies_delta.csv"), c, p, dc, dp)
  }

  // ------------------------------------------------------------------ corpus

  val stopwords: Array[String] = Array("the", "of", "and", "to", "in", "is",
    "that", "for", "it", "as", "with", "was", "on", "be", "at")

  final case class Corpus(
      ids: Array[Long], texts: Array[String],
      /** (source, planted exact copy) id pairs */
      exactPairs: Array[(Long, Long)],
      /** (source, planted near-duplicate) id pairs */
      nearPairs: Array[(Long, Long)])

  /** Zipfian vocabulary of letter-only words: the stopwords take the top
    * ranks, the rest are 4-10 letter pseudo-words.
    */
  private def vocabulary(r: SplittableRandom, size: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String](stopwords.toIndexedSeq: _*)
    while (seen.size < size) {
      val len = 4 + r.nextInt(7)
      seen += new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    seen.toArray
  }

  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** `n` documents of ~1 KB: ~5% planted exact copies, ~20% planted
    * near-duplicates (three token substitutions, which keeps their 5-shingle
    * Jaccard with the source near 0.8), ~8% short documents that fail the
    * Gopher word-count rule, the rest distinct originals. Ids are a seeded
    * permutation, so copies are not always the higher id.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val vocab = vocabulary(r.split(), 20000)
    val zipf = new Zipf(vocab.length, 1.0)
    def doc(len: Int): Array[String] = Array.fill(len)(vocab(zipf.draw(r)))
    val nExact = n / 20
    val nNear = n / 5
    val nLow = n * 2 / 25
    val nOrig = n - nExact - nNear - nLow
    val texts = new Array[String](n)
    val good = Array.fill(nOrig)(doc(140 + r.nextInt(50)))
    good.indices.foreach(i => texts(i) = good(i).mkString(" "))
    (0 until nLow).foreach(i => texts(nOrig + i) = doc(15 + r.nextInt(30)).mkString(" "))
    val exact = (0 until nExact).map { i =>
      val src = r.nextInt(nOrig)
      texts(nOrig + nLow + i) = texts(src)
      (src, nOrig + nLow + i)
    }
    val near = (0 until nNear).map { i =>
      val src = r.nextInt(nOrig)
      val toks = good(src).clone()
      (0 until 3).foreach { _ =>
        toks(r.nextInt(toks.length)) = vocab(stopwords.length + r.nextInt(vocab.length - stopwords.length))
      }
      val at = nOrig + nLow + nExact + i
      texts(at) = toks.mkString(" ")
      (src, at)
    }
    // seeded permutation of ids (Fisher-Yates)
    val ids = Array.tabulate(n)(_.toLong)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1
    }
    Corpus(ids, texts,
      exact.map { case (a, b) => (ids(a), ids(b)) }.toArray,
      near.map { case (a, b) => (ids(a), ids(b)) }.toArray)
  }

  final case class Vectors(ids: Array[Long], vecs: Array[Array[Float]],
      labels: Array[Int], queryIds: Array[Long], queries: Array[Array[Float]])

  /** `n` `dim`-dimensional vectors around `clusters` random unit centres,
    * plus `nQueries` query vectors drawn the same way. Query ids start at
    * 1e9 so they never collide with corpus ids.
    */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int, nQueries: Int): Vectors = {
    val r = new SplittableRandom(seed ^ 0x9e3779b97f4a7c15L)
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum); v.map(_ / norm)
    }
    def gauss(): Double = { // Box-Muller on the seeded stream
      val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val centres = Array.fill(clusters)(unit(Array.fill(dim)(gauss())))
    def draw(): (Array[Float], Int) = {
      val c = r.nextInt(clusters)
      (centres(c).map(x => (x + 0.08 * gauss()).toFloat), c)
    }
    val (vecs, labels) = Array.fill(n)(draw()).unzip
    val qs = Array.fill(nQueries)(draw()._1)
    Vectors(Array.tabulate(n)(_.toLong), vecs, labels,
      Array.tabulate(nQueries)(i => 1000000000L + i), qs)
  }

  /** Exact cosine top-k neighbour ids per query, in plain Scala (ties
    * broken by the lower id).
    */
  def exactTopK(v: Vectors, k: Int): Array[Array[Long]] = {
    def norm(a: Array[Float]) = math.sqrt(a.map(x => x.toDouble * x).sum)
    val norms = v.vecs.map(norm)
    val order = Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }
    v.queries.map { q =>
      val qn = norm(q)
      val heap = mutable.PriorityQueue.empty[(Double, Long)](order) // worst on top
      var j = 0
      while (j < v.vecs.length) {
        val a = v.vecs(j); var dot = 0.0; var d = 0
        while (d < a.length) { dot += q(d) * a(d); d += 1 }
        val c = (dot / (qn * norms(j)), v.ids(j))
        if (heap.size < k) heap.enqueue(c)
        else if (order.lt(c, heap.head)) { heap.dequeue(); heap.enqueue(c) }
        j += 1
      }
      heap.toSeq.sorted(order).map(_._2).toArray
    }
  }

  // ------------------------------------------------------ gate-suite tables

  /** Row streams for the gate tables, with the column layout of the
    * library's test tables (TPC-H-like star schema plus events, documents
    * and embeddings). Sizes scale with `sf` the way the library's test data
    * does (lineitem = 6M x sf).
    */
  final case class GateTables(sf: Double) {
    val customers: Int = math.max(100, (150000 * sf).toInt)
    val suppliers: Int = math.max(10, (10000 * sf).toInt)
    val parts: Int = math.max(100, (200000 * sf).toInt)
    val orders: Int = math.max(100, (1500000 * sf).toInt)
    val lineitems: Int = orders * 4
    val events: Int = math.max(100, (1000000 * sf).toInt)
    val documents: Int = math.max(100, (50000 * sf).toInt)
    val embeddings: Int = math.max(100, (20000 * sf).toInt)
  }

  private val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val partAdj = Array("large", "hot", "blue", "old", "cold", "red", "small", "green")
  private val partNoun = Array("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")
  private val partTypes = Array("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("signup", "click", "error", "view", "purchase")
  private val docWords = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Array("en", "en", "en", "zh", "de", "fr", "es")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Microseconds since the epoch of a day offset from 1995-01-01. */
  private def dayMicros(day: Int): Long = (9131L + day) * 86400L * 1000000L

  /** Rows of one gate table as plain values, in the column order of its
    * Spark schema (see `GateData`). Timestamps are epoch microseconds.
    */
  def gateRows(table: String, seed: Long, t: GateTables): Iterator[Array[Any]] = {
    val r = new SplittableRandom(seed * 31 + table.hashCode)
    table match {
      case "region" => Iterator("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (n, i) => Array[Any](i, n) }
      case "nation" => Iterator.range(0, 25).map(i => Array[Any](i, s"NATION_$i", i % 5))
      case "customer" => Iterator.range(0, t.customers).map(i => Array[Any](i.toLong,
        f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99), pick(r, segments)))
      case "supplier" => Iterator.range(0, t.suppliers).map(i => Array[Any](i.toLong,
        f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99)))
      case "part" => Iterator.range(0, t.parts).map(i => Array[Any](i.toLong,
        s"${pick(r, partAdj)} ${pick(r, partNoun)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, partTypes), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
      case "orders" => Iterator.range(0, t.orders).map(i => Array[Any](i.toLong,
        r.nextInt(t.customers).toLong, pick(r, Array("O", "P", "F")),
        money(r, 1000, 500000), dayMicros(r.nextInt(2404)), pick(r, priorities)))
      case "lineitem" => Iterator.range(0, t.lineitems).map { _ =>
        val qty = (1 + r.nextInt(50)).toDouble
        Array[Any](r.nextInt(t.orders).toLong, r.nextInt(t.parts).toLong,
          r.nextInt(t.suppliers).toLong, 1 + r.nextInt(7), qty,
          math.round(qty * (900 + r.nextInt(1200)) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          pick(r, Array("A", "N", "R")), pick(r, Array("O", "F")),
          dayMicros(1 + r.nextInt(2499)))
      }
      case "events" =>
        val start = 1704067200L * 1000000L
        val span = 30L * 86400L * 1000000L
        Iterator.range(0, t.events).map(i => Array[Any](i.toLong,
          start + (span / t.events) * i + r.nextInt(1000000),
          r.nextInt(1500).toLong, pick(r, eventTypes), money(r, 0, 560),
          s"""{"k": ${r.nextInt(100)}}"""))
      case "documents" => Iterator.range(0, t.documents).map { i =>
        val n = 8 + r.nextInt(90)
        val toks = Array.fill(n)(pick(r, docWords))
        if (r.nextInt(20) == 0) toks(r.nextInt(n)) = "dup"
        val text = toks.mkString(" ")
        Array[Any](i.toLong, text, pick(r, langs), s"src${i % 20}", text.length.toLong)
      }
      case "embeddings" =>
        val v = vectors(seed, t.embeddings, 64, 10, 0)
        Iterator.range(0, t.embeddings).map(i =>
          Array[Any](i.toLong, v.vecs(i), v.labels(i)))
    }
  }

  val gateTableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Canonical byte encoding of any generated value stream (tests use it to
    * compare seeds byte for byte).
    */
  def encode(out: OutputStream, values: Iterator[Array[Any]]): Unit =
    values.foreach { row =>
      out.write(row.map {
        case a: Array[Float] => a.mkString("[", ";", "]")
        case v => String.valueOf(v)
      }.mkString("\t").getBytes(UTF_8))
      out.write('\n')
    }
}
