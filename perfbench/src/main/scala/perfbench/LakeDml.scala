package perfbench

import java.io.File

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.VersionedTable
import graft.sql.GraftSql

/** Seeded op log for `lake_dml` and its ground truth: the table state after
  * every op, replayed on plain Scala collections, so the checks do not
  * depend on any code path of the program.
  */
object LakeGen {
  final case class R(day: Int, cat: String, boro: String, precinct: Int, rev: Long)
  type State = TreeMap[Long, R]

  sealed trait Op { def kind: String }
  /** Fold pending deletion vectors: MERGE refuses a table that has them. */
  case object Optimize extends Op { val kind = "lake_optimize" }
  final case class Merge(rows: Vector[(Long, R)]) extends Op { val kind = "lake_merge" }
  final case class Update(lo: Long, hi: Long) extends Op { val kind = "lake_update" }
  final case class Delete(lo: Long, hi: Long) extends Op { val kind = "lake_delete" }
  case object Agg extends Op { val kind = "lake_agg" }
  final case class Point(key: Long) extends Op { val kind = "lake_point" }
  /** Read the table as of the state after op `after` (-1: as created). */
  final case class TimeTravel(after: Int) extends Op { val kind = "lake_time_travel" }
  /** Change feed between the states after ops `from` and `to`. */
  final case class Cdf(from: Int, to: Int) extends Op { val kind = "lake_cdf" }

  final case class Log(base: State, ops: Vector[Op], states: Vector[State]) {
    /** State after op `i` (-1: as created). */
    def after(i: Int): State = if (i < 0) base else states(i)
  }

  val Cats = Vector("F", "M", "V", "I", "U")
  val Boros = Vector("Bronx", "Brooklyn", "Manhattan", "Queens", "Staten Island")

  def digest(s: State): (Long, Long, Long, Long) =
    (s.size.toLong, s.valuesIterator.map(_.rev).sum, s.keysIterator.sum, s.valuesIterator.map(_.precinct.toLong).sum)

  def aggOf(s: State): Map[String, (Long, Long)] =
    s.values.groupBy(_.boro).map { case (b, rs) => b -> (rs.size.toLong, rs.map(_.rev).sum) }

  def cdfOf(a: State, b: State): Map[String, Long] = {
    val ins = b.keysIterator.count(k => !a.contains(k))
    val del = a.keysIterator.count(k => !b.contains(k))
    val upd = b.iterator.count { case (k, r) => a.get(k).exists(_ != r) }
    Map("insert" -> ins.toLong, "delete" -> del.toLong, "update" -> upd.toLong).filter(_._2 > 0)
  }

  /** One pass: `cycles` × (OPTIMIZE, MERGE, aggregate, UPDATE, point
    * read, DELETE, time travel or change feed). MERGE and UPDATE favour
    * recent keys; the DELETE range falls anywhere.
    */
  def generate(seed: Long, baseRows: Int, cycles: Int): Log = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    def row(rev: Long): R = R(19358 + rnd.nextInt(365), Cats(rnd.nextInt(Cats.length)),
      Boros(rnd.nextInt(Boros.length)), 1 + rnd.nextInt(123), rev)
    val base: State = TreeMap((1L to baseRows.toLong).map(k => k -> row(1L)): _*)
    var s = base
    var nextKey = baseRows.toLong + 1
    val ops = mutable.ArrayBuffer.empty[Op]
    val states = mutable.ArrayBuffer.empty[State]
    def emit(op: Op, next: State): Unit = { ops += op; s = next; states += s }
    def live: Vector[Long] = s.keysIterator.toVector
    /** Index of a key in the most recent fifth of the live keys. */
    def recent(ks: Vector[Long]): Int = ks.length - 1 - rnd.nextInt(ks.length / 5)
    // every write touches a fixed number of live rows, so the work of a
    // pass does not depend on the seed
    for (c <- 0 until cycles) {
      val upd = rnd.shuffle(live.takeRight(live.length / 5)).take(40).map(k => k -> row(s(k).rev + 1))
      val ins = Vector.fill(20) { nextKey += 1; nextKey -> row(1L) }
      emit(Optimize, s)
      emit(Merge(upd ++ ins), s ++ upd ++ ins)
      emit(Agg, s)
      val ku = live
      val u = recent(ku) - 150
      val (lo, hi) = (ku(u), ku(u + 150))
      emit(Update(lo, hi), s.map { case (k, r) =>
        if (k >= lo && k < hi) k -> r.copy(cat = "F", rev = r.rev + 1) else k -> r })
      emit(Point(live(recent(live))), s)
      val kd = live
      val d = rnd.nextInt(kd.length - 60)
      val (dlo, dhi) = (kd(d), kd(d + 60))
      emit(Delete(dlo, dhi), s.filterNot { case (k, _) => k >= dlo && k < dhi })
      // both reach one cycle back, so every pass reads the same distance
      val here = ops.length - 1
      if (c % 2 == 0) emit(TimeTravel(math.max(-1, here - 7)), s)
      else emit(Cdf(math.max(-1, here - 7), here), s)
    }
    Log(base, ops.toVector, states.toVector)
  }
}

/** `lake_dml`: one writer's closed loop on a versioned arrest table. SQL
  * MERGE/UPDATE/DELETE on `graft_vtable('<dir>')` through
  * `GraftSql.sql`, interleaved with a snapshot aggregate, a point lookup,
  * time travel and a change-feed window. The table has deletion vectors on
  * with the auto-materialize ratio of the registered DV queries. Set-up
  * creates the table; each pass starts from a fresh copy of its directory
  * (manifests hold table-relative paths).
  */
final class LakeDml extends Workload {
  val BaseRows = 2000
  val Cycles = 3
  val Files0 = 4
  val kinds = Seq("lake_optimize", "lake_merge", "lake_agg", "lake_update", "lake_point", "lake_delete",
    "lake_time_travel", "lake_cdf")
  val WriteKinds = Set("lake_optimize", "lake_merge", "lake_update", "lake_delete")
  // driver-side code (parsing, planning, commit metadata) keeps getting
  // faster under the JIT for about 20 s of this loop; timed passes start
  // after that
  override val warmupSeconds = 20.0

  // a one-file inline bound (default 2048): commits write delta manifests
  // and a checkpoint every 10 of them, as tables past the bound do; with
  // the default, tables this small never checkpoint
  override val sessionSettings = Seq("spark.graft.vtable.inlineMaxFiles" -> "1")

  private var log: LakeGen.Log = _
  private var template: File = _
  private var root: File = _
  private val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private val schema = StructType(Seq(StructField("arrest_key", LongType), StructField("day", IntegerType),
    StructField("law_cat_cd", StringType), StructField("arrest_boro", StringType),
    StructField("arrest_precinct", IntegerType), StructField("rev", LongType)))

  private def frame(spark: SparkSession, rows: Seq[(Long, LakeGen.R)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (k, r) => Row(k, r.day, r.cat, r.boro, r.precinct, r.rev) }, 1), schema)
      .select(col("arrest_key"), date_add(lit("1970-01-01").cast("date"), col("day")).as("arrest_date"),
        col("law_cat_cd"), col("arrest_boro"), col("arrest_precinct"), col("rev"))

  def setup(ctx: Ctx, dir: File): Unit = {
    graft.functions.GraftFunctions.register(ctx.spark)
    log = LakeGen.generate(ctx.seed, BaseRows, Cycles)
    root = dir
    template = new File(dir, "template")
    VersionedTable.create(frame(ctx.spark, log.base.toSeq)
        .repartitionByRange(Files0, col("arrest_key")).sortWithinPartitions("arrest_key"),
      template.getAbsolutePath, statsCols = Seq("arrest_key"),
      props = Map(VersionedTable.DvsEnabledProp -> "true",
        VersionedTable.AutoMaterializeDvsProp -> "0.3"))
  }

  private def rowsOf(df: DataFrame): TreeMap[Long, LakeGen.R] =
    TreeMap(df.select(col("arrest_key"), datediff(col("arrest_date"), lit("1970-01-01")),
        col("law_cat_cd"), col("arrest_boro"), col("arrest_precinct"), col("rev"))
      .collect().map(r => r.getLong(0) -> LakeGen.R(r.getInt(1), r.getString(2), r.getString(3), r.getInt(4), r.getLong(5))): _*)

  def pass(ctx: Ctx, rec: Recorder): Unit = {
    val spark = ctx.spark
    val tableDir = new File(root, s"table-p${rec.pass}-${System.nanoTime()}")
    FileUtils.copyDirectory(template, tableDir)
    val table = tableDir.getAbsolutePath
    val bytes0 = FileUtils.sizeOf(tableDir)
    val version = mutable.Map(-1 -> VersionedTable.currentVersion(spark, table).get)
    val t = s"graft_vtable('$table')"
    def v(after: Int): Long = version(after)
    var writes = 0
    log.ops.zipWithIndex.foreach { case (op, i) =>
      val expect = log.after(i)
      val phase = if (WriteKinds(op.kind)) "lake_commit" else op.kind
      op match {
        case LakeGen.Optimize =>
          rec.step(op.kind, phase)(GraftSql.sql(spark, s"OPTIMIZE $t").collect())(_ => None)
        case LakeGen.Merge(rows) =>
          rec.step(op.kind, phase) {
            frame(spark, rows).createOrReplaceTempView("lake_src")
            GraftSql.sql(spark, s"MERGE INTO $t t USING lake_src s ON t.arrest_key = s.arrest_key " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()
          }(_ => None)
        case LakeGen.Update(lo, hi) =>
          rec.step(op.kind, phase) {
            GraftSql.sql(spark, s"UPDATE $t SET rev = rev + 1, law_cat_cd = 'F' " +
              s"WHERE arrest_key >= $lo AND arrest_key < $hi").collect()
          }(_ => None)
        case LakeGen.Delete(lo, hi) =>
          rec.step(op.kind, phase) {
            GraftSql.sql(spark, s"DELETE FROM $t WHERE arrest_key >= $lo AND arrest_key < $hi").collect()
          }(_ => None)
        case LakeGen.Agg =>
          rec.step(op.kind, phase) {
            GraftSql.sql(spark, s"SELECT arrest_boro, count(*), sum(rev) FROM $t GROUP BY arrest_boro").collect()
          } { rows =>
            val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
            if (got == LakeGen.aggOf(expect)) None else Some(s"op $i: snapshot aggregate differs from the replay")
          }
        case LakeGen.Point(k) =>
          rec.step(op.kind, phase) {
            rowsOf(GraftSql.sql(spark, s"SELECT * FROM $t WHERE arrest_key = $k"))
          } { got =>
            if (got.get(k) == expect.get(k) && got.size == 1) None else Some(s"op $i: point lookup of key $k differs")
          }
        case LakeGen.TimeTravel(after) =>
          rec.step(op.kind, phase) {
            GraftSql.sql(spark, s"SELECT count(*), sum(rev), sum(arrest_key), sum(arrest_precinct) " +
              s"FROM graft_vtable('$table', ${v(after)})").collect().head
          } { r =>
            val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
            if (got == LakeGen.digest(log.after(after))) None
            else Some(s"op $i: time travel to version ${v(after)} differs from the replay")
          }
        case LakeGen.Cdf(from, to) =>
          rec.step(op.kind, phase) {
            GraftSql.sql(spark, s"SELECT change_type, count(*) FROM graft_vtable_changes('$table', " +
              s"${v(from)}, ${v(to)}, 'arrest_key') GROUP BY change_type").collect()
          } { rows =>
            val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
            if (got == LakeGen.cdfOf(log.after(from), log.after(to))) None
            else Some(s"op $i: change feed ${v(from)}..${v(to)} differs from the replay")
          }
      }
      if (WriteKinds(op.kind)) writes += 1
      version(i) = VersionedTable.currentVersion(spark, table).get
    }
    rec.check("final snapshot") {
      if (rowsOf(VersionedTable.read(spark, table)) == log.after(log.ops.length - 1)) None
      else Some("final snapshot differs from the replay of the op log")
    }
    val fresh = new File(root, s"fresh-${System.nanoTime()}")
    VersionedTable.read(spark, table).repartitionByRange(Files0, col("arrest_key"))
      .sortWithinPartitions("arrest_key").write.parquet(fresh.getAbsolutePath)
    note("lake_space_amp", FileUtils.sizeOf(tableDir).toDouble / FileUtils.sizeOf(fresh))
    if (ctx.trace.on) {
      val vlog = new File(tableDir, "_vlog")
      note("vtable.bytes_written_per_commit", (FileUtils.sizeOf(tableDir) - bytes0).toDouble / writes)
      note("vtable.log_bytes", FileUtils.sizeOf(vlog).toDouble)
      note("vtable.checkpoints", Option(vlog.listFiles()).map(_.count(_.getName.startsWith("ckpt-"))).getOrElse(0).toDouble)
      note("vtable.dv_folds", VersionedTable.history(spark, table).count(_._2 == "dv_materialize").toDouble)
    }
    FileUtils.deleteDirectory(fresh)
    FileUtils.deleteDirectory(tableDir)
  }

  private def kindSeconds(rec: Recorder, traced: Boolean, p: String => Boolean): Seq[Double] =
    rec.of(traced).filter(s => p(s.kind)).map(_.seconds)

  def workloadFigures(rec: Recorder): Map[String, Double] = {
    val commits = kindSeconds(rec, traced = false, WriteKinds)
    val reads = kindSeconds(rec, traced = false, k => !WriteKinds(k))
    Map(
      "lake_commit_p50_s" -> Stats.median(commits),
      "lake_commit_tail_s" -> Stats.tail(commits)._1,
      "lake_read_p50_s" -> Stats.median(reads),
      "lake_read_tail_s" -> Stats.tail(reads)._1,
      "lake_space_amp" -> Stats.median(layer.getOrElse("lake_space_amp", mutable.ArrayBuffer.empty).toSeq))
  }

  override def tailDetail(rec: Recorder): Map[String, (Double, Double, Int)] = Map(
    "lake_commit_tail_s" -> Stats.tail(kindSeconds(rec, traced = false, WriteKinds)),
    "lake_read_tail_s" -> Stats.tail(kindSeconds(rec, traced = false, k => !WriteKinds(k))))

  def layerFigures(ctx: Ctx, rec: Recorder): Map[String, Double] = {
    def med(k: String) = Stats.median(layer.getOrElse(k, mutable.ArrayBuffer.empty).toSeq)
    def kindMed(k: String) = Stats.median(kindSeconds(rec, traced = true, _ == k))
    val commit = ctx.trace.phaseStats("lake_commit")
    val commitWall = ctx.trace.seconds("lake_commit").sum
    val point = ctx.trace.phaseStats("lake_point")
    val points = rec.of(traced = true).count(_.kind == "lake_point")
    Map(
      "lake.optimize_s" -> kindMed("lake_optimize"),
      "lake.merge_s" -> kindMed("lake_merge"),
      "lake.update_s" -> kindMed("lake_update"),
      "lake.delete_s" -> kindMed("lake_delete"),
      "lake.jobs_per_commit" -> commit.jobs.toDouble / math.max(1, ctx.trace.seconds("lake_commit").length),
      "lake.driver_gap_share" -> ctx.trace.driverGapSeconds("lake_commit") / commitWall,
      "vtable.bytes_written_per_commit" -> med("vtable.bytes_written_per_commit"),
      "vtable.log_bytes" -> med("vtable.log_bytes"),
      "vtable.checkpoints" -> med("vtable.checkpoints"),
      "vtable.dv_folds" -> med("vtable.dv_folds"),
      "lake.point_read_s" -> kindMed("lake_point"),
      "lake.time_travel_s" -> kindMed("lake_time_travel"),
      "lake.cdf_read_s" -> kindMed("lake_cdf"),
      "lake.rows_examined_per_row" -> point.recordsRead.toDouble / math.max(1, points))
  }
}
