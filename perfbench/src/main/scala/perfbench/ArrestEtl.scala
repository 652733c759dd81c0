package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.ArrestPipeline
import graft.sources.LoopbackPages

/** Seeded Socrata-shaped raw arrest rows with the FIXTURES.md §1 dirty
  * variants at fixed rates, and the counts a correct pipeline must report.
  *
  * Batch 1 is the first source; the grown source is batch 1 followed by
  * batch 2. Batch 2 holds new keys at or above the batch-1 high-water mark,
  * late rows below it (the incremental filter drops them), within-batch
  * duplicate keys and cross-batch repeats of batch-1 keys with a
  * conflicting payload (the first writer must keep its row).
  *
  * Socrata always ships lower-case field names, so the upper-case-header
  * variant (a CSV concern) is not generated.
  */
object ArrestGen {
  val Day0 = 19358 // 2023-01-01
  val Days1 = 180
  val Days2 = 90
  val DupMarker = "DUPLICATE COPY"
  val ConflictMarker = "CONFLICTING UPDATE"

  final case class Raw(key: Any, date: Any, day: Option[Int], pdDesc: String,
                       lawCat: String, boro: String, precinct: Any, sex: String,
                       lat: Any, lon: Any) {
    def validKey: Boolean = key match {
      case s: String => s.trim.nonEmpty
      case _ => false
    }
    def valid: Boolean = validKey && day.isDefined
    def k: String = key.asInstanceOf[String]
  }

  final case class Expected(full: Long, incr: Long,
                            dupKeys: Map[String, Int], lawCat: Map[String, Long],
                            boro: Map[String, Long])

  final case class Data(batch1: Vector[Raw], grown: Vector[Raw], expected: Expected)

  private val offenses = Vector("ROBBERY", "ASSAULT 3", "FELONY ASSAULT", "PETIT LARCENY",
    "GRAND LARCENY", "DANGEROUS DRUGS", "CRIMINAL MISCHIEF", "BURGLARY", "VEHICLE AND TRAFFIC LAWS")
  private val lawCats = Vector[String]("F", "M", "V", "I", "f", "m", "NONE", "", "9", null)
  private val boros = Vector[String]("B", "K", "M", "Q", "S", "X", "k", null)
  private val sexes = Vector[String]("M", "F", "m", "U", "Z", null)

  def lawCatOut(v: String): String = Option(v).map(_.toUpperCase) match {
    case Some(u) if Set("F", "M", "V", "I")(u) => u
    case _ => "U"
  }

  def boroOut(v: String): String = Option(v).map(_.trim.toUpperCase).filter(_.nonEmpty) match {
    case None => null
    case Some(u) => graft.ops.Transforms.BoroughMap.getOrElse(u, u)
  }

  def generate(seed: Long, n1: Int, n2: Int): Data = {
    val rnd = new scala.util.Random(seed)
    var nextKey = 261000000L + rnd.nextInt(1000000)
    def freshKey(): String = { nextKey += 1 + rnd.nextInt(3); nextKey.toString }
    def pick[T](v: Vector[T]): T = v(rnd.nextInt(v.length))
    def dateOf(day: Int): Any = {
      val r = rnd.nextDouble()
      val iso = java.time.LocalDate.ofEpochDay(day.toLong).toString
      val ms = day.toLong * 86400000L + rnd.nextInt(24) * 3600000L
      if (r < 0.70) s"${iso}T00:00:00.000"
      else if (r < 0.80) iso
      else if (r < 0.90) ms.toString
      else ms // a JSON number
    }
    def row(key: Any, day: Int, pdDesc: String): Raw = {
      val r = rnd.nextDouble()
      val (date, d) =
        if (r < 0.01) ("not-a-date", None)
        else if (r < 0.015) (null, None)
        else (dateOf(day), Some(day))
      val precinct: Any = rnd.nextInt(10) match {
        case 0 => null
        case 1 => s"${1 + rnd.nextInt(123)}.0"
        case _ => (1 + rnd.nextInt(123)).toString
      }
      val (lat, lon): (Any, Any) = rnd.nextInt(20) match {
        case 0 => (null, null)
        case 1 => ("junk", "n/a")
        case _ => (f"${40.5 + rnd.nextDouble() * 0.4}%.6f", f"${-74.2 + rnd.nextDouble() * 0.5}%.6f")
      }
      Raw(key, date, d, pdDesc, pick(lawCats), pick(boros), precinct, pick(sexes), lat, lon)
    }
    def payload(): String = {
      val o = pick(offenses)
      if (rnd.nextInt(10) == 0) o.toLowerCase else o
    }
    def badKey(): Any = rnd.nextInt(3) match { case 0 => null; case 1 => ""; case _ => "   " }

    // batch 1: fresh keys, 1.5% bad keys, 4% within-batch duplicates
    val b1 = mutable.ArrayBuffer.empty[Raw]
    while (b1.length < n1) {
      val r = rnd.nextDouble()
      if (r < 0.015) b1 += row(badKey(), Day0 + rnd.nextInt(Days1), payload())
      else if (r < 0.055 && b1.exists(_.valid)) {
        val orig = b1(rnd.nextInt(b1.length))
        if (orig.valid) b1 += row(orig.k, orig.day.get + 1 + rnd.nextInt(5), DupMarker)
      } else b1 += row(freshKey(), Day0 + rnd.nextInt(Days1), payload())
    }
    // the first writer of a key is its earliest-dated valid row
    def winners(rows: Iterable[Raw]): Map[String, Raw] =
      rows.filter(_.valid).groupBy(_.k).map { case (k, rs) => k -> rs.minBy(_.day.get) }
    val stored1 = winners(b1)
    val hwm = stored1.values.map(_.day.get).max
    // batch 2: new keys at/above the HWM, late rows below it, repeats of
    // batch-1 keys with a conflicting payload, within-batch duplicates
    val b1Valid = stored1.keys.toVector.sorted
    val b2 = mutable.ArrayBuffer.empty[Raw]
    while (b2.length < n2) {
      val r = rnd.nextDouble()
      if (r < 0.015) b2 += row(badKey(), hwm + rnd.nextInt(Days2), payload())
      else if (r < 0.065) b2 += row(pick(b1Valid), hwm + rnd.nextInt(Days2), ConflictMarker)
      else if (r < 0.085) b2 += row(freshKey(), Day0 + rnd.nextInt(hwm - Day0), payload())
      else if (r < 0.115 && b2.nonEmpty) {
        val orig = b2(rnd.nextInt(b2.length))
        if (orig.valid && !stored1.contains(orig.k) && orig.day.get >= hwm)
          b2 += row(orig.k, orig.day.get + 1, DupMarker)
      } else b2 += row(freshKey(), hwm + rnd.nextInt(Days2), payload())
    }
    val grown = (b1 ++ b2).toVector
    val incrRows = grown.filter(r => r.valid && r.day.get >= hwm && !stored1.contains(r.k))
    val stored2 = stored1 ++ winners(incrRows)
    val keyCount = grown.filter(_.valid).groupBy(_.k).filter(_._2.size > 1).keySet
    val dupKeys = keyCount.flatMap(k => stored2.get(k).map(w => k -> w.day.get)).toMap
    def dist(f: Raw => String): Map[String, Long] =
      stored2.values.groupBy(f).map { case (k, v) => (if (k == null) "<null>" else k) -> v.size.toLong }
    Data(b1.toVector, grown, Expected(stored1.size, stored2.size - stored1.size, dupKeys,
      dist(r => lawCatOut(r.lawCat)), dist(r => boroOut(r.boro))))
  }

  val RawDdl: String = (Seq("arrest_key", "arrest_date", "pd_cd", "pd_desc", "ky_cd", "ofns_desc",
    "law_code", "law_cat_cd", "arrest_boro", "arrest_precinct", "jurisdiction_code", "age_group",
    "perp_sex", "perp_race", "x_coord_cd", "y_coord_cd", "latitude", "longitude")
    .map(c => s"$c string")).mkString(", ")

  /** Write rows as a paged-JSONL fixture dir (`_manifest.json` + pages). */
  def writePages(rows: Seq[Raw], dir: File, pageSize: Int): Unit = {
    dir.mkdirs()
    val m = new ObjectMapper()
    def put(o: ObjectNode, f: String, v: Any): Unit = v match {
      case null => o.putNull(f)
      case s: String => o.put(f, s)
      case l: Long => o.put(f, l)
      case other => o.put(f, other.toString)
    }
    val pages = rows.grouped(pageSize).zipWithIndex.map { case (page, i) =>
      val name = f"page-$i%05d.jsonl"
      val sb = new StringBuilder
      page.foreach { r =>
        val o = m.createObjectNode()
        put(o, "arrest_key", r.key)
        put(o, "arrest_date", r.date)
        put(o, "pd_cd", "397")
        put(o, "pd_desc", r.pdDesc)
        put(o, "ky_cd", "105")
        put(o, "ofns_desc", r.pdDesc)
        put(o, "law_code", "PL 1601005")
        put(o, "law_cat_cd", r.lawCat)
        put(o, "arrest_boro", r.boro)
        put(o, "arrest_precinct", r.precinct)
        put(o, "jurisdiction_code", "0")
        put(o, "age_group", "25-44")
        put(o, "perp_sex", r.sex)
        put(o, "perp_race", "BLACK")
        put(o, "x_coord_cd", "1007286")
        put(o, "y_coord_cd", "183350")
        put(o, "latitude", r.lat)
        put(o, "longitude", r.lon)
        val geo = o.putObject("lon_lat")
        geo.put("type", "Point")
        sb.append(m.writeValueAsString(o)).append('\n')
      }
      FileUtils.writeStringToFile(new File(dir, name), sb.toString, "UTF-8")
      s"""{"file":"$name","rows":${page.length},"minKey":0,"maxKey":0}"""
    }.toSeq
    FileUtils.writeStringToFile(new File(dir, "_manifest.json"),
      s"""{"keyCol":"arrest_key","schemaDdl":"${RawDdl}","pages":[${pages.mkString(",")}]}""", "UTF-8")
  }
}

/** `arrest_etl`: the paper's lifecycle. Each pass loads an empty warehouse
  * from the first source (full), re-runs above the high-water mark against
  * the grown source (incremental), then replays the incremental pass, which
  * must insert nothing. Untraced passes run each stage as the lazy plan a
  * user would build; traced passes materialize every stage boundary so each
  * span covers one layer.
  *
  * Set-up generates both sources, starts their loopback servers and reads
  * each once through the connector, so the server's first-request work is
  * set-up, as it is for a long-lived source.
  *
  * Pages are 1000 rows, the connector's default `pageSize` (Socrata's
  * default `$limit`). The dirty-variant rates are not taken from the real
  * feed: they are set so every FIXTURES.md §1 variant occurs dozens of
  * times in each source (the rarest, null dates at 0.5%, ~40 times in the
  * first) while most rows stay clean.
  */
final class ArrestEtl extends Workload {
  val Rows1 = 8000
  val Rows2 = 4000
  val PageSize = 1000
  val kinds = Seq("etl_full", "etl_incr", "etl_replay")
  // passes keep getting faster under the JIT for about 15 s (from 2.1 s
  // to 1.65 s a pass); timed passes start after that
  override val warmupSeconds = 15.0

  private var data: ArrestGen.Data = _
  private var src1, src2: String = _
  private var whRoot: File = _
  private val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  def setup(ctx: Ctx, dir: File): Unit = {
    data = ArrestGen.generate(ctx.seed, Rows1, Rows2)
    val d1 = new File(dir, "source1")
    val d2 = new File(dir, "source2")
    ArrestGen.writePages(data.batch1, d1, PageSize)
    ArrestGen.writePages(data.grown, d2, PageSize)
    src1 = d1.getAbsolutePath
    src2 = d2.getAbsolutePath
    for ((src, n) <- Seq(src1 -> data.batch1.length, src2 -> data.grown.length)) {
      val got = extract(ctx, src).count()
      require(got == n, s"source $src served $got rows, expected $n")
    }
    whRoot = new File(dir, "warehouse")
    whRoot.mkdirs()
  }

  private def extract(ctx: Ctx, src: String): DataFrame =
    ctx.spark.read.format("graft-paged")
      .option("mode", "offset")
      .option("pageSize", PageSize.toString)
      .schema(ArrestGen.RawDdl)
      .load(s"${LoopbackPages.serve(ctx.spark, src)}/${LoopbackPages.SoqlPath}")

  /** (SoQL requests, rows shipped) since the last call, from the server's log. */
  private def wire(src: String): (Long, Long) = {
    val log = LoopbackPages.requestLog(src).filter(_._1.startsWith(LoopbackPages.SoqlPath))
    LoopbackPages.clearRequestLog(src)
    (log.size.toLong, log.filterNot(_._1.contains("count(1)")).map(_._2).sum)
  }

  /** extract → transform (→ HWM filter) → load, as one step. */
  private def runStage(ctx: Ctx, stage: String, src: String, wh: String, incremental: Boolean): Long = {
    val t = ctx.trace
    if (!t.on) {
      val cleaned = ArrestPipeline.transform(extract(ctx, src))
      val in = if (incremental) ArrestPipeline.incrementalSource(cleaned, ctx.spark.read.parquet(wh)) else cleaned
      ArrestPipeline.load(in, wh)
    } else {
      def timed[A](span: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = t.span(span)(body)
        note(s"$span@$stage", (System.nanoTime() - t0) / 1e9)
        r
      }
      val (raw, rowsIn) = timed("sources.extract") { val r = extract(ctx, src).cache(); (r, r.count()) }
      val (cleaned, rowsOut) = timed("etl.transform") {
        val c0 = ArrestPipeline.transform(raw)
        val c = (if (incremental) ArrestPipeline.incrementalSource(c0, ctx.spark.read.parquet(wh)) else c0).cache()
        (c, c.count())
      }
      def parquetFiles: Int = { val d = new File(wh); if (d.isDirectory) FileUtils.listFiles(d, Array("parquet"), true).size else 0 }
      val before = parquetFiles
      val n = timed("warehouse.load")(ArrestPipeline.load(cleaned, wh))
      val (reqs, rows) = wire(src)
      note(s"sources.requests@$stage", reqs.toDouble)
      note(s"sources.rows_served@$stage", rows.toDouble)
      // counted before the load: writing the warehouse invalidates the
      // cached HWM-filtered frame, and a recount would see the new HWM
      note(s"etl.rows_in@$stage", rowsIn.toDouble)
      note(s"etl.rows_out@$stage", rowsOut.toDouble)
      note(s"warehouse.rows_inserted@$stage", n.toDouble)
      note(s"warehouse.files_written@$stage", (parquetFiles - before).toDouble)
      raw.unpersist()
      cleaned.unpersist()
      n
    }
  }

  def pass(ctx: Ctx, rec: Recorder): Unit = {
    val e = data.expected
    val wh = new File(whRoot, s"p${rec.pass}-${System.nanoTime()}")
    val whPath = wh.getAbsolutePath
    wire(src1); wire(src2)
    rec.step("etl_full", "etl_full")(runStage(ctx, "full", src1, whPath, incremental = false)) { n =>
      if (n == e.full) None else Some(s"full load inserted $n rows, expected ${e.full}")
    }
    rec.step("etl_incr", "etl_incr")(runStage(ctx, "incr", src2, whPath, incremental = true)) { n =>
      if (n == e.incr) None else Some(s"incremental pass inserted $n rows, expected ${e.incr}")
    }
    rec.step("etl_replay", "etl_replay")(runStage(ctx, "replay", src2, whPath, incremental = true)) { n =>
      if (n == 0) None else Some(s"replay inserted $n rows, expected 0")
    }
    rec.check("warehouse state")(verify(ctx, whPath))
    if (ctx.trace.on) note("warehouse.bytes_per_row@all", FileUtils.sizeOf(wh).toDouble / (e.full + e.incr))
    FileUtils.deleteDirectory(wh)
  }

  /** Stored rows: the expected count, the first writer kept for every
    * duplicated key, and the cleaned categorical columns' distributions.
    */
  private def verify(ctx: Ctx, wh: String): Option[String] = {
    val e = data.expected
    val stored = ctx.spark.read.parquet(wh)
    val n = stored.count()
    if (n != e.full + e.incr) return Some(s"warehouse holds $n rows, expected ${e.full + e.incr}")
    val losers = stored.filter(col("pd_desc").isin(ArrestGen.DupMarker, ArrestGen.ConflictMarker)).count()
    if (losers != 0) return Some(s"$losers stored rows carry a losing duplicate's payload")
    val dupDays = stored.filter(col("arrest_key").isin(e.dupKeys.keys.toSeq: _*))
      .select(col("arrest_key"), datediff(col("arrest_date"), lit("1970-01-01")))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    if (dupDays != e.dupKeys) return Some("a duplicated key did not keep its first writer's row")
    def dist(c: String): Map[String, Long] = stored.groupBy(col(c)).count().collect()
      .map(r => Option(r.getString(0)).getOrElse("<null>") -> r.getLong(1)).toMap
    if (dist("law_cat_cd") != e.lawCat) return Some("law_cat_cd distribution differs from the generator's")
    if (dist("arrest_boro") != e.boro) return Some("arrest_boro distribution differs from the generator's")
    None
  }

  def workloadFigures(rec: Recorder): Map[String, Double] = {
    val s = rec.of(traced = false)
    kinds.map(k => s"${k}_s" -> Stats.median(s.filter(_.kind == k).map(_.seconds))).toMap
  }

  def layerFigures(ctx: Ctx, rec: Recorder): Map[String, Double] = {
    def all(k: String): Seq[Double] = layer.getOrElse(k, mutable.ArrayBuffer.empty).toSeq
    def med(k: String): Double = Stats.median(all(k))
    val kept = all("etl.rows_out@incr")
    val servedIncr = all("sources.rows_served@incr")
    Map(
      "sources.extract_s" -> med("sources.extract@full"),
      "sources.requests" -> med("sources.requests@full"),
      "sources.rows_served" -> med("sources.rows_served@full"),
      "sources.rows_per_s" -> all("sources.rows_served@full").sum / all("sources.extract@full").sum,
      "sources.useful_ratio" -> Stats.median(kept.zip(servedIncr).map { case (k, s) => k / s }),
      "etl.transform_s" -> med("etl.transform@full"),
      "etl.rows_in" -> med("etl.rows_in@full"),
      "etl.rows_out" -> med("etl.rows_out@full"),
      "warehouse.load_s" -> med("warehouse.load@full"),
      "warehouse.rows_inserted" -> med("warehouse.rows_inserted@full"),
      "warehouse.files_written" -> med("warehouse.files_written@full"),
      "warehouse.bytes_per_row" -> med("warehouse.bytes_per_row@all"))
  }
}
