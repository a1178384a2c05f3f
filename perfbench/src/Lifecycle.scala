package graftbench

import scala.collection.mutable

import graft.ops.{Dedup, Similarity}
import graft.streaming.{ContinuousIngest => CI, Snapshot}
import graft.streaming.ContinuousIngest.{AnnParams, AnnQuantizers, IngestParams, IngestState}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `ingest`: the write path of the ingest/snapshot lifecycle on a
  * generated corpus of `doc_id, text, lang, source, n_chars,
  * embedding[64]`, then the read path (the maintained ANN faces) over
  * the snapshot it exported. */
object Lifecycle {
  val Batches = 2
  val K = 10
  val NProbe = 4
  val Rerank = 32
  val QueriesPerRequest = 16
  val EligibleLang = "en"

  final class Corpus(c: Ctx) {
    val path = s"${c.input}/docs.parquet"
    val docs: DataFrame = c.spark.read.parquet(path).cache()
    val n: Long = docs.count()
    val inputBytes: Long = new java.io.File(path).length()
    val params = IngestParams(expectedDigests = n,
      ann = Some(AnnParams(nlist = Similarity.nlistFor(n))),
      storeEmbeddingsInDocs = false)
    def ann: AnnParams = params.ann.get
    def batch(i: Int): DataFrame =
      docs.where(col("doc_id") >= n * i / Batches && col("doc_id") < n * (i + 1) / Batches)
    def batchSize(i: Int): Long = n * (i + 1) / Batches - n * i / Batches
    def rows: Array[Row] = docs.orderBy("doc_id").collect()
  }

  private def bootstrap(c: Ctx, corpus: Corpus, st: IngestState): Double = {
    val b0 = corpus.batch(0)
    val boot = b0.join(Dedup.exactDupFlags(b0).where(!col("is_dup")).select("doc_id"),
      Seq("doc_id"), "left_semi").cache()
    val (_, t) = c.span("streaming.ContinuousIngest.bootstrap", Some(st.root))(
      CI.bootstrap(boot, st, corpus.params))
    boot.unpersist()
    t
  }

  private def loadQuantizers(c: Ctx, corpus: Corpus, st: IngestState): (AnnQuantizers, Double) =
    c.span("streaming.ContinuousIngest.loadQuantizers")(CI.loadQuantizers(c.spark, st, corpus.ann))

  private def ingestBatch(c: Ctx, corpus: Corpus, st: IngestState, q: AnnQuantizers,
                          i: Int): Double =
    c.span("streaming.ContinuousIngest.ingestBatch", Some(st.root))(
      CI.ingestBatch(corpus.batch(i), i.toLong, st, corpus.params, Some(q)))._2

  private def rowCount(c: Ctx, st: IngestState): Long = CI.readTable(c.spark, st.docsPath).count()

  private def dirBytes(root: String): Long = Tracer.listing(root).values.map(_._1).sum

  private val Faces = Seq("annIvfMaintained", "annIvfPqMaintained", "annIvfFilteredMaintained")

  /** Write path, then the read path over the snapshot it exported. */
  def run(c: Ctx): Unit = {
    val spark = c.spark
    val corpus = new Corpus(c)
    val deleteIds = corpus.docs.select("doc_id").where(pmod(col("doc_id"), lit(50)) === 7)
      .cache()
    deleteIds.count()
    val qvecs = spark.read.parquet(s"${c.input}/queries.parquet").orderBy("qid").collect()
      .map(r => r.getSeq[Float](1).toArray)
    c.setupDone()

    // ---- write path: bootstrap, appends, a replay, maintenance, export
    val st = IngestState(s"${c.work}/state")
    val exportRoot = s"${c.work}/export"
    var rowsBeforeReplay, rowsAfterReplay = 0L
    c.batch {
      val boot = bootstrap(c, corpus, st)
      val (q, tq) = loadQuantizers(c, corpus, st)
      val appends = (1 until Batches).map(i => ingestBatch(c, corpus, st, q, i))
      rowsBeforeReplay = rowCount(c, st)
      val replay = ingestBatch(c, corpus, st, q, Batches - 1)
      rowsAfterReplay = rowCount(c, st)
      val (_, tc) = c.span("streaming.ContinuousIngest.compactState")(
        CI.compactState(spark, st, upToBatch = (Batches - 1).toLong))
      val (_, td) = c.span("streaming.ContinuousIngest.deleteDocs")(
        CI.deleteDocs(spark, st, deleteIds))
      val (_, te) = c.span("streaming.Snapshot.export", Some(exportRoot))(
        Snapshot.export(spark, st, exportRoot))
      val offered = (1 until Batches).map(corpus.batchSize(_)).sum + corpus.batchSize(Batches - 1)
      c.metric("bootstrap_s", boot, "s")
      c.metric("ingest_docs_per_s", offered / (appends.sum + replay), "docs/s")
      c.metric("maintenance_s", tc + td + te, "s")
      c.metric("state_bytes_per_input_byte", dirBytes(st.root).toDouble / corpus.inputBytes, "ratio")
      c.info("docs_offered_to_ingestBatch", offered)
      boot + tq + appends.sum + replay + tc + td + te
    }
    c.info("docs", corpus.n)
    verifyWrites(c, corpus, st, exportRoot, deleteIds, rowsBeforeReplay, rowsAfterReplay)

    // ---- read path: one client, faces in fixed rotation, over the snapshot
    val snap = Snapshot.state(spark, exportRoot)
    val (q, _) = loadQuantizers(c, corpus, snap)
    val eligible = corpus.docs.where(col("lang") === EligibleLang).select("doc_id").cache()
    eligible.count()
    val qOffset = 1000000000L
    def queryFrame(r: Int): (DataFrame, Seq[Long]) = {
      val rows = (0 until QueriesPerRequest).map { j =>
        val qi = (r * QueriesPerRequest + j) % qvecs.length
        Row(qOffset + qi, qvecs(qi).toSeq)
      }
      (spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType.fromDDL("doc_id BIGINT, embedding ARRAY<FLOAT>")), rows.map(_.getLong(0)))
    }
    def answer(face: Int, qs: DataFrame, nprobe: Int): Map[Long, Set[Long]] =
      Tracer.span(s"streaming.ContinuousIngest.${Faces(face)}") {
        (face match {
          case 0 => CI.annIvfMaintained(spark, snap, corpus.ann, qs, K, nprobe, Some(q),
            excludeSelf = false)
          case 1 => CI.annIvfPqMaintained(spark, snap, corpus.ann, qs, K, nprobe, Rerank, Some(q),
            excludeSelf = false)
          case _ => CI.annIvfFilteredMaintained(spark, snap, corpus.ann, qs, K, nprobe, eligible,
            Some(q), excludeSelf = false)
        }).select(col("vec_id"), col("nn_id")).collect()
      }.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }

    // exact reference: brute-force cosine over the docs left after the delete
    val kept = CI.readTable(spark, st.docsPath).select("doc_id").collect().map(_.getLong(0)).toSet
    val lang = corpus.rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    val corpusVecs = corpus.docs.select("doc_id", "embedding").collect()
      .filter(r => kept(r.getLong(0)))
      .map(r => r.getLong(0) -> Jaccard.unit(r.getSeq[Float](1).toArray))
    def exactTop(qi: Long, onlyEligible: Boolean): Seq[(Long, Double)] = {
      val v = Jaccard.unit(qvecs((qi - qOffset).toInt))
      corpusVecs.iterator.filter(e => !onlyEligible || lang(e._1) == EligibleLang)
        .map { case (id, u) => id -> Jaccard.dot(u, v) }.toSeq.sortBy(-_._2).take(K)
    }

    Faces.indices.foreach(f => answer(f, queryFrame(f)._1, NProbe)) // warm-up
    val perFace = Array.fill(Faces.size)(mutable.ArrayBuffer.empty[Double])
    var hits, tried = 0L
    c.requests(min = 12, round = Faces.size) { r =>
      val face = r % Faces.size
      val (qs, qids) = queryFrame(r + Faces.size)
      val (ans, t) = c.op(Faces(face))(answer(face, qs, NProbe))
      perFace(face) += t
      qids.foreach { qi =>
        val truth = exactTop(qi, face == 2).map(_._1).toSet
        hits += ans.getOrElse(qi, Set.empty[Long]).count(truth)
        tried += truth.size
      }
      t
    }
    val lat = perFace.flatten.toSeq
    val p90 = Stats.quantile(lat, 0.9)
    c.metric("ann_p50_s", Stats.median(lat), "s")
    c.metric("ann_p90_s", p90, "s")
    Faces.indices.foreach(f => c.metric(s"${Faces(f)}_p50_s", Stats.median(perFace(f).toSeq), "s"))
    c.metric("recall_at_10", hits.toDouble / math.max(1L, tried), "ratio")
    c.info("requests", lat.size)
    c.info("requests_beyond_p90", lat.count(_ > p90))
    c.layer("serve.recall_at_10", hits.toDouble / math.max(1L, tried))

    // probing every list makes annIvfMaintained exhaustive: it must equal brute force
    val (qs, qids) = queryFrame(0)
    val full = answer(0, qs, corpus.ann.nlist)
    val wrong = qids.filter { qi =>
      val ex = exactTop(qi, onlyEligible = false)
      val got = full.getOrElse(qi, Set.empty[Long])
      // ids may differ only where scores tie at the k-th place
      val kth = ex.last._2
      val v = Jaccard.unit(qvecs((qi - qOffset).toInt))
      got.size != K || !got.diff(ex.map(_._1).toSet).forall { id =>
        corpusVecs.find(_._1 == id).exists(e => math.abs(Jaccard.dot(e._2, v) - kth) < 1e-9)
      }
    }
    c.check("serve_exhaustive_ivf_equals_brute_force_top10", wrong.isEmpty,
      s"${wrong.size} of ${qids.size} queries differ")
  }

  /** Write-path checks against references computed from the corpus. */
  private def verifyWrites(c: Ctx, corpus: Corpus, st: IngestState, exportRoot: String,
                           deleteIds: DataFrame, before: Long, after: Long): Unit = {
    val kept = CI.readTable(c.spark, st.docsPath).select("doc_id").collect().map(_.getLong(0)).toSet
    val deleted = deleteIds.collect().map(_.getLong(0)).toSet
    val rows = corpus.rows
    val texts = rows.map(_.getAs[String]("text"))
    val ids = rows.map(_.getAs[Long]("doc_id"))
    val seen = mutable.HashSet.empty[String]
    val exactCopies = ids.indices.filterNot(i => seen.add(texts(i))).map(ids).toSet
    c.check("ingest_every_exact_copy_dropped", exactCopies.forall(id => !kept(id)),
      s"kept exact copies ${exactCopies.filter(kept).take(10)}")
    val dropped = ids.filter(id => !kept(id) && !deleted(id) && !exactCopies(id))
    val shingles = texts.map(t => Jaccard.shingles(t, corpus.params.shingleN))
    val bad = dropped.filter { id =>
      val i = id.toInt
      !(0 until i).exists(j => Jaccard.of(shingles(i), shingles(j)) >= corpus.params.minJaccard)
    }
    c.check("ingest_no_dissimilar_doc_dropped", bad.isEmpty,
      s"${bad.length} dropped docs below minJaccard to every earlier doc, e.g. ${bad.take(5).toSeq}")
    c.info("near_dup_dropped", dropped.length)
    c.check("ingest_replay_leaves_row_counts", before == after,
      s"docs rows $before before the replay, $after after")
    c.check("ingest_deleted_ids_absent", kept.intersect(deleted).isEmpty,
      s"${kept.intersect(deleted).size} deleted ids still present")
    // the default export is index-only: its assignment table must read
    // back row for row
    val exported = Snapshot.state(c.spark, exportRoot)
    val (exportedRows, primaryRows) =
      (CI.readTable(c.spark, exported.ivfPath).count(), CI.readTable(c.spark, st.ivfPath).count())
    c.check("ingest_exported_version_readable", exportedRows == primaryRows,
      s"export has $exportedRows ivf rows, primary $primaryRows")
  }
}

/** Plain-Scala references: word n-gram shingle sets as the engine builds
  * them (lower-case, split on non-alphanumerics), Jaccard, cosine. */
object Jaccard {
  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)
    if (toks.length < n) Set.empty else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def of(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else a.intersect(b).size.toDouble / a.union(b).size

  def unit(v: Array[Float]): Array[Double] = {
    val d = v.map(_.toDouble)
    val norm = math.sqrt(d.map(x => x * x).sum)
    d.map(_ / norm)
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
