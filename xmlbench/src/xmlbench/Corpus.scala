package xmlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

/** Deterministic input generators. Every generator is a pure function of
  * the seed (and of the record ids it is asked for), and records the
  * expected aggregates of what it writes in plain Scala while it writes, so
  * each operation's output can be checked against a computation that never
  * went through the engine. */
object Corpus {

  /** splitmix64 finalizer: order-insensitive sums of mixed values make
    * row-level checksums that bind a row's fields together. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A per-record random stream: the same (seed, id) gives the same values
    * whichever file or stream batch the record lands in. */
  def rnd(seed: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(seed * 0x100000001B3L ^ id))

  private def cents(sb: java.lang.StringBuilder, c: Long): Unit = {
    sb.append(c / 100).append('.')
    val f = c % 100
    if (f < 10) sb.append('0')
    sb.append(f)
  }

  def write(path: Path, s: CharSequence): Long = {
    val b = s.toString.getBytes(UTF_8)
    Files.createDirectories(path.getParent)
    Files.write(path, b)
    b.length.toLong
  }

  // ------------------------------------------------------------------
  // flat records: <rec id=".."> + one child per scalar parser
  // ------------------------------------------------------------------

  val Statuses: Array[String] =
    Array("open", "shipped", "held", "closed", "returned")

  /** Records whose id % 100 == FallbackMod carry `r&amp;d` as status: the
    * flat fast path bails on any entity, so these rows take the per-row
    * fallback to Spark's XML evaluator (1%). */
  val FallbackMod = 37L
  /** Records whose id % 50 == GarbageMod carry a non-numeric qty, which
    * `nullInt` turns into null (2%). */
  val GarbageMod = 11L

  private val IsoSeconds =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  val TsBase: Long =
    LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)

  /** Appends one flat record and adds its expected parse to `exp`. */
  def flatRecord(sb: java.lang.StringBuilder, seed: Long, id: Long,
      exp: FlatSummary): Unit = {
    val r = rnd(seed, id)
    val seq = r.nextInt(1000000)
    val qty = r.nextInt(-500, 5000)
    val flag = r.nextBoolean()
    val amt = r.nextLong(0L, 10000000L)
    val ts = TsBase + r.nextLong(0L, 3L * 365 * 86400)
    val fallback = id % 100 == FallbackMod
    val garbage = id % 50 == GarbageMod
    val status = if (fallback) "r&d" else Statuses(r.nextInt(Statuses.length))
    sb.append("<rec id=\"").append(id).append("\"><seq>").append(seq)
      .append("</seq><qty>")
    if (garbage) sb.append("q").append(qty & 0xff) else sb.append(qty)
    sb.append("</qty><flag>").append(flag).append("</flag><amt>")
    cents(sb, amt)
    sb.append("</amt><ts>")
      .append(IsoSeconds.format(LocalDateTime.ofEpochSecond(ts, 0,
        ZoneOffset.UTC)))
      .append("</ts><status>")
      .append(if (fallback) "r&amp;d" else status)
      .append("</status></rec>\n")
    exp.add(id, seq, if (garbage) null else Integer.valueOf(qty),
      java.lang.Boolean.valueOf(flag), java.lang.Long.valueOf(amt),
      java.lang.Long.valueOf(ts), status, null)
  }

  /** A rootless file of flat records with ids [lo, hi). */
  def flatText(seed: Long, lo: Long, hi: Long,
      exp: FlatSummary): java.lang.StringBuilder = {
    val sb = new java.lang.StringBuilder(((hi - lo) * 200).toInt)
    var id = lo
    while (id < hi) { flatRecord(sb, seed, id, exp); id += 1 }
    sb
  }

  /** The flat corpus: `files` rootless files of `perFile` records each,
    * ids 0 until files*perFile. Returns the bytes written. */
  def writeFlat(dir: Path, seed: Long, files: Int, perFile: Int,
      exp: FlatSummary): Long = {
    var bytes = 0L
    var f = 0
    while (f < files) {
      val lo = f.toLong * perFile
      bytes += write(dir.resolve(f"part-$f%03d.xml"),
        flatText(seed, lo, lo + perFile, exp))
      f += 1
    }
    bytes
  }

  /** The splitter probe: well-formed XML whose rowTag attribute values
    * contain `/>`. A correct rowTag split yields exactly these two records;
    * independent of the seed. */
  val ProbeXml: String =
    "<rec a=\"x/>y\"><id>1</id></rec>\n<rec a=\"ok\"><id>2</id></rec>\n"
  val ProbeExpected: Set[(String, Int)] = Set(("x/>y", 1), ("ok", 2))

  // ------------------------------------------------------------------
  // nested documents: <order> with obj, alternatives array, wildcard,
  // custom member and planted garbage / entities / CDATA / comments
  // ------------------------------------------------------------------

  val Regions: Array[String] = Array("eu", "us", "apac", "latam")
  val Tiers: Array[String] = Array("gold", "silver", "bronze")
  val Colors: Array[String] = Array("red", "green", "blue", "black")
  val Cities: Array[String] =
    Array("Oslo", "Lima", "Pune", "Kyiv", "Quito", "Perth", "Turku")

  /** Planted shares, by id % 100: entity-encoded note (10%), CDATA note
    * (5%), comment between members (5%), garbage qty (2%), malformed
    * document (1%, an inner close tag that does not match). */
  def nestedKind(id: Long): Int = (id % 100).toInt match {
    case k if k < 10 => 1 // entities
    case k if k < 15 => 2 // CDATA
    case k if k < 20 => 3 // comment
    case k if k < 22 => 4 // garbage qty
    case 99          => 5 // malformed
    case _           => 0
  }

  /** One `<order>` document; adds its expected parse to `exp`. */
  def nestedDoc(sb: java.lang.StringBuilder, seed: Long, id: Long,
      exp: NestedSummary): Unit = {
    val r = rnd(seed, id)
    val kind = nestedKind(id)
    val region = Regions(r.nextInt(Regions.length))
    val tier = Tiers(r.nextInt(Tiers.length))
    val name = "C" + r.nextInt(100000)
    val nk = r.nextInt(25)
    val k = 1 + r.nextInt(6)
    val lineTags = new Array[Int](k) // 0 = item (qty), 1 = fee (cents)
    val lineVals = new Array[Long](k)
    var j = 0
    while (j < k) {
      lineTags(j) = r.nextInt(2)
      lineVals(j) =
        if (lineTags(j) == 0) r.nextInt(1, 100).toLong
        else r.nextLong(0L, 100000L)
      j += 1
    }
    val color = Colors(r.nextInt(Colors.length))
    val w = r.nextInt(1000)
    val word = "n" + r.nextInt(1000000)
    val qty = r.nextInt(0, 10000)
    val city = Cities(r.nextInt(Cities.length))
    val zip = r.nextInt(10000, 99999)

    sb.append("<order id=\"").append(id).append("\" region=\"").append(region)
      .append("\"><cust tier=\"").append(tier).append("\"><name>")
      .append(name).append("</name><nk>").append(nk).append("</nk></cust>")
    if (kind == 3) sb.append("<!-- audit ").append(word).append(" -->")
    sb.append("<lines count=\"").append(k).append("\">")
    j = 0
    while (j < k) {
      if (lineTags(j) == 0)
        sb.append("<item>").append(lineVals(j)).append("</item>")
      else { sb.append("<fee>"); cents(sb, lineVals(j)); sb.append("</fee>") }
      j += 1
    }
    sb.append("</lines><ext_").append(color).append(" w=\"").append(w)
      .append("\"/><note>")
    val note = kind match {
      case 1 =>
        sb.append("a &amp; b &lt;").append(word).append("&gt;")
        "a & b <" + word + ">"
      case 2 =>
        sb.append("<![CDATA[").append(word).append(" <&> x]]>")
        word + " <&> x"
      case _ =>
        sb.append(word)
        word
    }
    sb.append("</note><qty>")
    if (kind == 4) sb.append("n/a") else sb.append(qty)
    sb.append("</qty><ship><city>").append(city)
    if (kind == 5) sb.append("</ship>") else sb.append("</city>")
    sb.append("<zip>").append(zip).append("</zip></ship></order>")

    if (kind == 5) exp.addMalformed()
    else exp.add(id, region, tier, name, nk, lineTags, lineVals, k,
      "ext_" + color, w, note, if (kind == 4) null else Integer.valueOf(qty),
      city, zip)
  }
}

/** Expected and observed aggregates of the flat record parse. The same
  * class serves both sides: the generator feeds it the values it wrote,
  * the checker the values the engine returned. */
final class FlatSummary(val idLimit: Int, val idBase: Long = 0L)
    extends Serializable {
  val ids = new java.util.BitSet(idLimit)
  var rows, badIds, dupIds, idSum = 0L
  var seqSum, qtySum, qtyNull, flagTrue, flagFalse, flagNull = 0L
  var amtCents, amtNull, tsSecs, tsNull, statusNull, missingNull = 0L
  var rowMix = 0L
  var nullCells = 0L
  val status = new java.util.TreeMap[String, java.lang.Long]()

  def add(id: java.lang.Long, seq: Int, qty: Integer,
      flag: java.lang.Boolean, cents: java.lang.Long, tsSec: java.lang.Long,
      st: String, missing: Integer): Unit = {
    rows += 1
    if (id == null || id < idBase || id >= idBase + idLimit) badIds += 1
    else {
      val i = (id - idBase).toInt
      if (ids.get(i)) dupIds += 1 else ids.set(i)
      idSum += id
    }
    seqSum += seq
    if (qty == null) { qtyNull += 1; nullCells += 1 } else qtySum += qty.intValue
    if (flag == null) { flagNull += 1; nullCells += 1 }
    else if (flag.booleanValue) flagTrue += 1 else flagFalse += 1
    if (cents == null) { amtNull += 1; nullCells += 1 } else amtCents += cents
    if (tsSec == null) { tsNull += 1; nullCells += 1 } else tsSecs += tsSec
    if (st == null) { statusNull += 1; nullCells += 1 }
    else status.merge(st, 1L, (a, b) => a + b)
    if (missing == null) { missingNull += 1; nullCells += 1 }
    if (id == null) nullCells += 1
    rowMix += Corpus.mix(
      (if (id == null) -1L else id.longValue) * 1000003L + seq) ^
      Corpus.mix((if (qty == null) -7L else qty.longValue) * 31L +
        (if (cents == null) -3L else cents.longValue))
  }

  def merge(o: FlatSummary): FlatSummary = {
    val both = o.ids.clone().asInstanceOf[java.util.BitSet]
    both.and(ids)
    dupIds += o.dupIds + both.cardinality
    ids.or(o.ids)
    rows += o.rows; badIds += o.badIds; idSum += o.idSum
    seqSum += o.seqSum; qtySum += o.qtySum; qtyNull += o.qtyNull
    flagTrue += o.flagTrue; flagFalse += o.flagFalse; flagNull += o.flagNull
    amtCents += o.amtCents; amtNull += o.amtNull; tsSecs += o.tsSecs
    tsNull += o.tsNull; statusNull += o.statusNull
    missingNull += o.missingNull; rowMix += o.rowMix; nullCells += o.nullCells
    o.status.forEach((k, v) => status.merge(k, v, (a, b) => a + b))
    this
  }

  private def fields: Seq[(String, Any)] = Seq(
    "rows" -> rows, "distinct_ids" -> ids.cardinality, "bad_ids" -> badIds,
    "dup_ids" -> dupIds, "id_sum" -> idSum, "seq_sum" -> seqSum,
    "qty_sum" -> qtySum, "qty_null" -> qtyNull, "flag_true" -> flagTrue,
    "flag_false" -> flagFalse, "flag_null" -> flagNull,
    "amt_cents" -> amtCents, "amt_null" -> amtNull, "ts_secs" -> tsSecs,
    "ts_null" -> tsNull, "status_null" -> statusNull,
    "missing_null" -> missingNull, "row_mix" -> rowMix,
    "status" -> status.toString)

  /** None when equal, else the first differing aggregate. */
  def diff(observed: FlatSummary): Option[String] =
    fields.zip(observed.fields).collectFirst {
      case ((n, e), (_, o)) if e != o => s"$n: expected $e, got $o"
    }
}

/** Expected and observed aggregates of the nested document parse. */
final class NestedSummary(val idLimit: Int) extends Serializable {
  val ids = new java.util.BitSet(idLimit)
  var rows, badIds, dupIds, idSum, malformed, malformedLeaks = 0L
  var nameHash, nkSum, nkNull = 0L
  var lineCount, itemCount, feeCount, itemSum, feeCents, countAttrSum = 0L
  var lineOrderMix, lineBad = 0L
  var extW, noteHash, qtySum, qtyNull = 0L
  var shipMix, shipTagBad, zipSum = 0L
  var nullCells = 0L
  val region = new java.util.TreeMap[String, java.lang.Long]()
  val tier = new java.util.TreeMap[String, java.lang.Long]()
  val extTag = new java.util.TreeMap[String, java.lang.Long]()

  private def bump(m: java.util.TreeMap[String, java.lang.Long],
      k: String): Unit =
    m.merge(if (k == null) "<null>" else k, 1L, (a, b) => a + b)

  def addMalformed(): Unit = { rows += 1; malformed += 1 }

  /** `lineTags(j)`: 0 = item, 1 = fee; `lineVals(j)`: qty or fee cents;
    * `countAttr`: the container's count attribute as broadcast to every
    * element. */
  def add(id: Long, rg: String, tr: String, name: String, nk: Integer,
      lineTags: Array[Int], lineVals: Array[Long], countAttr: Int,
      ext: String, w: Int, note: String, qty: Integer, city: String,
      zip: Int): Unit = {
    rows += 1
    if (id < 0 || id >= idLimit) badIds += 1
    else {
      if (ids.get(id.toInt)) dupIds += 1 else ids.set(id.toInt)
      idSum += id
    }
    bump(region, rg)
    bump(tier, tr)
    nameHash += Corpus.mix(id ^ (if (name == null) 0 else name.hashCode))
    if (nk == null) nkNull += 1 else nkSum += nk.intValue
    var j = 0
    while (j < lineTags.length) {
      lineCount += 1
      if (lineTags(j) == 0) { itemCount += 1; itemSum += lineVals(j) }
      else { feeCount += 1; feeCents += lineVals(j) }
      countAttrSum += countAttr
      lineOrderMix += Corpus.mix(id * 64 + j) ^
        Corpus.mix(lineTags(j) * 1000003L + lineVals(j))
      j += 1
    }
    bump(extTag, ext)
    extW += w
    noteHash += Corpus.mix(id * 31 + (if (note == null) 0 else note.hashCode))
    if (qty == null) qtyNull += 1 else qtySum += qty.intValue
    shipMix += Corpus.mix(id ^ (if (city == null) 0 else city.hashCode))
    zipSum += zip
  }

  def merge(o: NestedSummary): NestedSummary = {
    val both = o.ids.clone().asInstanceOf[java.util.BitSet]
    both.and(ids)
    dupIds += o.dupIds + both.cardinality
    ids.or(o.ids)
    rows += o.rows; badIds += o.badIds; idSum += o.idSum
    malformed += o.malformed; malformedLeaks += o.malformedLeaks
    nameHash += o.nameHash; nkSum += o.nkSum; nkNull += o.nkNull
    lineCount += o.lineCount; itemCount += o.itemCount
    feeCount += o.feeCount; itemSum += o.itemSum; feeCents += o.feeCents
    countAttrSum += o.countAttrSum; lineOrderMix += o.lineOrderMix
    lineBad += o.lineBad; extW += o.extW; noteHash += o.noteHash
    qtySum += o.qtySum; qtyNull += o.qtyNull; shipMix += o.shipMix
    shipTagBad += o.shipTagBad; zipSum += o.zipSum; nullCells += o.nullCells
    o.region.forEach((k, v) => region.merge(k, v, (a, b) => a + b))
    o.tier.forEach((k, v) => tier.merge(k, v, (a, b) => a + b))
    o.extTag.forEach((k, v) => extTag.merge(k, v, (a, b) => a + b))
    this
  }

  private def fields: Seq[(String, Any)] = Seq(
    "rows" -> rows, "distinct_ids" -> ids.cardinality, "bad_ids" -> badIds,
    "dup_ids" -> dupIds, "id_sum" -> idSum, "malformed" -> malformed,
    "malformed_leaks" -> malformedLeaks, "region" -> region.toString,
    "tier" -> tier.toString, "name_hash" -> nameHash, "nk_sum" -> nkSum,
    "nk_null" -> nkNull, "line_count" -> lineCount,
    "item_count" -> itemCount, "fee_count" -> feeCount,
    "item_sum" -> itemSum, "fee_cents" -> feeCents,
    "count_attr_sum" -> countAttrSum, "line_order_mix" -> lineOrderMix,
    "line_bad" -> lineBad, "ext_tag" -> extTag.toString, "ext_w" -> extW,
    "note_hash" -> noteHash, "qty_sum" -> qtySum, "qty_null" -> qtyNull,
    "ship_mix" -> shipMix, "ship_tag_bad" -> shipTagBad, "zip_sum" -> zipSum)

  def diff(observed: NestedSummary): Option[String] =
    fields.zip(observed.fields).collectFirst {
      case ((n, e), (_, o)) if e != o => s"$n: expected $e, got $o"
    }
}
