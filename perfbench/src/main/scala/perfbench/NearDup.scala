package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{DedupOps, GraphOps, SimilarityOps}

/** Seeded text corpus with planted near-duplicate clusters, a seeded
  * clustered embedding set, and their ground truth: the exact Jaccard pairs
  * at each registered threshold and the brute-force top-10 neighbours.
  */
object NearDupGen {
  final case class Doc(id: Long, text: String, source: String)
  final case class Data(docs: Vector[Doc], pairs: Map[(Long, Long), Double],
                        vectors: Vector[(Long, Array[Float])], queries: Vector[Long],
                        top10: Map[Long, Set[Long]]) {
    def pairsAtLeast(t: Double): Set[(Long, Long)] = pairs.filter(_._2 >= t).keySet
  }

  /** Distinct character 3-grams, as the program's shingle kernel defines them. */
  def shingles(s: String, n: Int = 3): Set[String] =
    if (s.length < n) Set(s) else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  val Thresholds = Seq(0.6, 0.7, 0.8)

  def generate(seed: Long, nDocs: Int, words: Int, nVecs: Int, dim: Int, nQueries: Int): Data = {
    val rnd = new scala.util.Random(seed * 17 + 3)
    def word() = (0 until 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val vocab = Vector.fill(4000)(word())
    def text() = Vector.fill(words)(vocab(rnd.nextInt(vocab.length)))
    /** One small edit: replace, drop or swap a word. */
    def edit(ws: Vector[String]): Vector[String] = rnd.nextInt(3) match {
      case 0 => ws.updated(rnd.nextInt(ws.length), vocab(rnd.nextInt(vocab.length)))
      case 1 => val i = rnd.nextInt(ws.length); ws.patch(i, Nil, 1)
      case _ => val i = rnd.nextInt(ws.length - 1); ws.updated(i, ws(i + 1)).updated(i + 1, ws(i))
    }
    def cluster(orig: Vector[String], copies: Int): (Seq[String], Seq[(Int, Int, Double)]) = {
      val cs = (0 until copies).map(_ => edit(orig).mkString(" "))
      val members = (orig.mkString(" ") +: cs).map(shingles(_))
      (cs, for (i <- members.indices; j <- members.indices if i < j) yield (i, j, jaccard(members(i), members(j))))
    }
    // no pair may sit near a threshold, so the exact answer cannot hinge on rounding
    def clear(js: Seq[(Int, Int, Double)]) = js.forall { case (_, _, j) => Thresholds.forall(t => math.abs(j - t) > 0.01) }
    val docs = mutable.ArrayBuffer.empty[Doc]
    val pairs = mutable.Map.empty[(Long, Long), Double]
    while (docs.length < nDocs) {
      val src = s"src${rnd.nextInt(20)}"
      val orig = text()
      val id0 = docs.length.toLong
      docs += Doc(id0, orig.mkString(" "), src)
      // every 12th document seeds a cluster, of one edited copy or two in turn
      if (id0 % 12 == 0 && docs.length + 2 <= nDocs) {
        val drawn = Iterator.continually(cluster(orig, if (id0 % 24 == 0) 1 else 2)).take(100).find(c => clear(c._2))
        drawn.foreach { case (copies, js) =>
          copies.foreach(c => docs += Doc(docs.length.toLong, c, src))
          js.foreach { case (i, j, jv) => if (jv >= Thresholds.min) pairs((id0 + i, id0 + j)) = jv }
        }
      }
    }
    // embeddings: Gaussian blobs around 24 random centres
    val centres = Vector.fill(24)(Array.fill(dim)(rnd.nextGaussian() * 2))
    val vectors = (0 until nVecs).map { i =>
      val c = centres(rnd.nextInt(centres.length))
      i.toLong -> Array.tabulate(dim)(j => (c(j) + rnd.nextGaussian()).toFloat)
    }.toVector
    val queries = (0 until nQueries).map(q => (q.toLong * nVecs / nQueries)).toVector
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val norms = vectors.map { case (_, v) => norm(v) }
    val top10 = queries.map { q =>
      val qv = vectors(q.toInt)._2
      val qn = norms(q.toInt)
      q -> vectors.indices.filter(_ != q.toInt).map { i =>
        val v = vectors(i)._2
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += qv(j).toDouble * v(j); j += 1 }
        i.toLong -> dot / (qn * norms(i))
      }.sortBy(-_._2).take(10).map(_._1).toSet
    }.toMap
    Data(docs.toVector, pairs.toMap, vectors, queries, top10)
  }
}

/** `neardup`: executor-bound dedup and similarity kernels over a corpus
  * just above `DedupOps.BruteForceMaxDocs`, so the tiers production runs
  * are the ones measured. No commits on the timed path: the IVF index is
  * built at set-up.
  */
final class NearDup extends Workload {
  val Docs = 10240
  val Words = 12
  val Vectors = 10000
  val Dim = 32
  val Queries = 40
  // parameters of the registered q_dedup_near, q_ngram_jaccard,
  // q_dedup_minhash and q_similarity_ivf_incr queries
  val Budget = Some(graft.PerfbenchQueries.JaccardCandidateBudget)
  val MinhashRecallFloor = 0.85
  val IvfRecallFloor = 0.8
  val kinds = Seq("neardup_global", "neardup_blocked", "neardup_minhash", "ivf_topk")

  private var data: NearDupGen.Data = _
  private var docs: DataFrame = _
  private var queries: DataFrame = _
  private var indexDir: String = _
  private val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  def setup(ctx: Ctx, dir: File): Unit = {
    val spark = ctx.spark
    data = NearDupGen.generate(ctx.seed, Docs, Words, Vectors, Dim, Queries)
    val docPath = new File(dir, "documents.parquet").getAbsolutePath
    spark.createDataFrame(spark.sparkContext.parallelize(data.docs.map(d => Row(d.id, d.text, d.source)), 1),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType), StructField("source", StringType))))
      .write.parquet(docPath)
    val embPath = new File(dir, "embeddings.parquet").getAbsolutePath
    spark.createDataFrame(spark.sparkContext.parallelize(data.vectors.map { case (id, v) => Row(id, v.toSeq) }, 1),
        StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)))))
      .write.parquet(embPath)
    docs = spark.read.parquet(docPath)
    val emb = spark.read.parquet(embPath)
    queries = emb.filter(col("vec_id").isin(data.queries: _*))
    indexDir = new File(dir, "ivf").getAbsolutePath
    val t0 = System.nanoTime()
    SimilarityOps.ivfIndexBuild(emb, indexDir, c = 16, iters = 2)
    note("similarity.ivf_build_s", (System.nanoTime() - t0) / 1e9)
  }

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet

  /** Rows dropNearDuplicates must keep: one per connected cluster. */
  private def expectedKept: Long = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    data.pairsAtLeast(0.8).foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val nodes = data.pairsAtLeast(0.8).flatMap { case (a, b) => Seq(a, b) }
    Docs - (nodes.size - nodes.map(find).size)
  }

  def pass(ctx: Ctx, rec: Recorder): Unit = {
    val t = ctx.trace
    val exact08 = data.pairsAtLeast(0.8)
    rec.step("neardup_global", "neardup_global") {
      val pairs = t.span("dedup.pairs") {
        val p = DedupOps.jaccardPairsGlobal(docs, "doc_id", "text", n = 3, threshold = 0.8,
          candidatePairBudget = Budget).cache()
        p.count()
        p
      }
      val kept = t.span("graph.components")(GraphOps.dropNearDuplicates(docs, "doc_id", pairs, "id_a", "id_b").count())
      val got = pairs.collect()
      pairs.unpersist()
      (got, kept)
    } { case (got, kept) =>
      if (pairSet(got) != exact08) Some(s"global pairs: ${got.length} found, ${exact08.size} planted, sets differ")
      else if (kept != expectedKept) Some(s"dropNearDuplicates kept $kept rows, expected $expectedKept")
      else None
    }
    val exact06 = data.pairsAtLeast(0.6)
    rec.step("neardup_blocked", "neardup_blocked") {
      t.span("dedup.blocked_pairs")(DedupOps.jaccardPairsBlocked(docs, "doc_id", "text", "source", n = 3,
        threshold = 0.6, candidatePairBudget = Budget).collect())
    } { got =>
      if (pairSet(got) == exact06) None else Some(s"blocked pairs: ${got.length} found, ${exact06.size} planted, sets differ")
    }
    val exact07 = data.pairsAtLeast(0.7)
    rec.step("neardup_minhash", "neardup_minhash") {
      if (!t.on) DedupOps.minhashLshPairs(docs, "doc_id", "text", n = 3, k = 64, bands = 8, threshold = 0.7).collect()
      else {
        val sigs = t.span("dedup.signatures") {
          val s = DedupOps.minhashSignatures(docs, "doc_id", "text", n = 3, k = 64).cache()
          s.count()
          s
        }
        val out = t.span("dedup.lsh_pairs")(DedupOps.minhashLshPairsFromSignatures(sigs, k = 64, bands = 8, threshold = 0.7).collect())
        sigs.unpersist()
        out
      }
    } { got =>
      val found = pairSet(got)
      val recall = found.count(exact07).toDouble / exact07.size
      note(s"neardup_minhash_recall@${t.on}", recall)
      note("dedup.lsh_precision", found.count(exact07).toDouble / math.max(1, found.size))
      if (recall >= MinhashRecallFloor) None else Some(f"minhash recall $recall%.3f below the floor $MinhashRecallFloor")
    }
    rec.step("ivf_topk", "ivf_topk") {
      t.span("similarity.ivf_probe")(SimilarityOps.ivfIndexTopK(queries, indexDir, 10, nprobe = 4).collect())
    } { rows =>
      val got = rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
      val recall = data.queries.map(q => got.getOrElse(q, Set.empty[Long]).count(data.top10(q)).toDouble / 10).sum /
        data.queries.size
      note(s"ivf_recall_at_10@${t.on}", recall)
      if (recall >= IvfRecallFloor) None else Some(f"IVF recall@10 $recall%.3f below the floor $IvfRecallFloor")
    }
  }

  /** LSH candidate pairs the banded join admits: Σ over (band, bucket) of
    * C(n, 2), counted through the public `lshBandHashes`.
    */
  private def lshCandidates: Double =
    DedupOps.minhashSignatures(docs, "doc_id", "text", n = 3, k = 64)
      .select(posexplode(DedupOps.lshBandHashes(col("sig"), bands = 8, rowsPerBand = 8)).as(Seq("band", "bhash")))
      .groupBy("band", "bhash").count()
      .select((sum(col("count") * (col("count") - 1)) / 2).cast("long"))
      .head().getLong(0).toDouble

  def workloadFigures(rec: Recorder): Map[String, Double] = {
    val s = rec.of(traced = false)
    def med(k: String) = Stats.median(layer.getOrElse(k, mutable.ArrayBuffer.empty).toSeq)
    kinds.map(k => s"${k}_s" -> Stats.median(s.filter(_.kind == k).map(_.seconds))).toMap ++ Map(
      "neardup_minhash_recall" -> med("neardup_minhash_recall@false"),
      "ivf_recall_at_10" -> med("ivf_recall_at_10@false"))
  }

  def layerFigures(ctx: Ctx, rec: Recorder): Map[String, Double] = {
    val t = ctx.trace
    Map(
      "dedup.pairs_s" -> Stats.median(t.seconds("dedup.pairs")),
      "graph.components_s" -> Stats.median(t.seconds("graph.components")),
      "spark.task_skew" -> Trace.taskSkew(t.phaseStats("neardup_global"), ctx.spark.sparkContext.defaultParallelism),
      "dedup.blocked_pairs_s" -> Stats.median(t.seconds("dedup.blocked_pairs")),
      "dedup.signatures_s" -> Stats.median(t.seconds("dedup.signatures")),
      "dedup.lsh_pairs_s" -> Stats.median(t.seconds("dedup.lsh_pairs")),
      "dedup.lsh_candidates" -> lshCandidates,
      "dedup.lsh_precision" -> Stats.median(layer.getOrElse("dedup.lsh_precision", mutable.ArrayBuffer.empty).toSeq),
      "similarity.ivf_build_s" -> Stats.median(layer.getOrElse("similarity.ivf_build_s", mutable.ArrayBuffer.empty).toSeq),
      "similarity.ivf_probe_s" -> Stats.median(t.seconds("similarity.ivf_probe")))
  }
}
