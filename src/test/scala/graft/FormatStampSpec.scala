package graft

import graft.streaming.{Bounded, ContinuousIngest, Snapshot}
import graft.streaming.ContinuousIngest.{AnnParams, IngestParams, IngestState}
import java.nio.file.{Files, Path}

/** The one stamped state format: [[ContinuousIngest.bootstrap]] stamps
  * every root, each public writer entry refuses an unstamped or
  * wrong-version root by name (the root and both versions), and the
  * trees `Snapshot.export`, `restore` and `sync` make carry the stamp
  * and pass the check. */
class FormatStampSpec extends SparkSpec {
  import spark.implicits._

  private val P = IngestParams(expectedDigests = 1000L, fpp = 0.1,
    nearDup = false)
  private val Format = ContinuousIngest.StateFormat

  private def text(i: Long): String =
    (0 until 20).map(j => s"w${31 * i + j}").mkString(" ")
  private def docs(ids: Seq[Long]) =
    ids.map(i => (i, text(i))).toDF("doc_id", "text")

  private def freshRoot(): Path = {
    val root = Files.createTempDirectory("graft_format")
    sys.addShutdownHook {
      import java.util.Comparator
      try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }
    root
  }

  /** Local path of a root string (snapshot faces return qualified
    * `file:` roots). */
  private def local(root: String): String =
    new org.apache.hadoop.fs.Path(root).toUri.getPath

  private def stampOf(root: String): String =
    new String(Files.readAllBytes(Path.of(local(root), "_GRAFT_FORMAT")),
      "UTF-8")

  /** Replace (or with None, remove) a root's stamp out of band — the
    * local-FS crc sidecar goes too, so reads reach the stamp itself. */
  private def setStamp(root: String, text: Option[String]): Unit = {
    Files.deleteIfExists(Path.of(local(root), "._GRAFT_FORMAT.crc"))
    Files.deleteIfExists(Path.of(local(root), "_GRAFT_FORMAT"))
    text.foreach(t => Files.write(Path.of(local(root), "_GRAFT_FORMAT"),
      t.getBytes("UTF-8")))
  }

  test("bootstrap stamps the root with the one state format") {
    val st = IngestState(s"${freshRoot()}/s")
    ContinuousIngest.bootstrap(docs(1L to 3L), st, P)
    assert(stampOf(st.root) === s"format=$Format\n")
    assert(!ContinuousIngest.requireFormat(spark, st.root, "spec"),
      "a bootstrapped root is a primary, not a snapshot tree")
  }

  test("every public writer entry refuses an unstamped and a wrong-version root, by name") {
    val root = freshRoot()
    val st = IngestState(s"$root/s")
    ContinuousIngest.bootstrap(docs(1L to 3L), st, P)
    val ids = Seq(1L).toDF("doc_id")
    val stream = Bounded.fileStream(spark, s"$root/in/chunk_*",
      schemaDDL = "doc_id BIGINT, text STRING")
    val writers: Seq[(String, () => Any)] = Seq(
      "ingestBatch" -> (() => ContinuousIngest.ingestBatch(docs(Seq(9L)), 0L, st, P)),
      "compactState" -> (() => ContinuousIngest.compactState(spark, st, 0L)),
      "deleteDocs" -> (() => ContinuousIngest.deleteDocs(spark, st, ids)),
      "enqueueDelete" -> (() => ContinuousIngest.enqueueDelete(spark, st, ids)),
      "processDeleteQueue" -> (() => ContinuousIngest.processDeleteQueue(spark, st)),
      "rebuildIndexes" -> (() =>
        ContinuousIngest.rebuildIndexes(spark, st, AnnParams(nlist = 2))),
      "rollbackBatch" -> (() => ContinuousIngest.rollbackBatch(spark, st, 0L)),
      "snapshotDriftBase" -> (() => ContinuousIngest.snapshotDriftBase(spark, st)),
      "start" -> (() => ContinuousIngest.start(stream, st, P)))
    def refusals(): Seq[(String, String)] = writers.map { case (name, f) =>
      name -> msgs(intercept[Throwable](f())).mkString(";")
    }
    setStamp(st.root, None)
    refusals().foreach { case (name, m) =>
      assert(m.contains(s"$name: ${st.root} is unstamped") &&
        m.contains(s"only state format $Format"), s"$name: $m")
    }
    setStamp(st.root, Some("format=0\n"))
    refusals().foreach { case (name, m) =>
      assert(m.contains(s"$name: ${st.root} is state format 0") &&
        m.contains(s"only state format $Format"), s"$name: $m")
    }
    // no refused entry wrote anything: re-stamped, the root ingests as
    // if nothing had happened
    setStamp(st.root, Some(s"format=$Format\n"))
    assert(ContinuousIngest.ingestBatch(docs(Seq(9L)), 0L, st, P).count() === 1L)
    assert(ContinuousIngest.readTable(spark, st.docsPath).count() === 4L)
  }

  test("roots made by export, restore and sync carry the stamp and pass the check") {
    val root = freshRoot()
    val st = IngestState(s"$root/s")
    ContinuousIngest.bootstrap(docs(1L to 3L), st, P)
    val ex = s"$root/export"
    Snapshot.export(spark, st, ex, full = true)
    val v = Snapshot.state(spark, ex)
    assert(stampOf(v.root) === s"format=$Format\nsnapshot=true\n")
    assert(ContinuousIngest.requireFormat(spark, v.root, "spec"),
      "an exported version passes the check as a snapshot tree")
    // writers refuse it as a snapshot, not for its format
    val e = intercept[Throwable](ContinuousIngest.compactState(spark, v, 0L))
    assert(msgs(e).exists(_.contains("SNAPSHOT tree")), msgs(e).mkString(";"))

    val rep = s"$root/replica"
    Snapshot.sync(spark, ex, rep)
    val repV = Snapshot.state(spark, rep)
    assert(stampOf(repV.root) === s"format=$Format\nsnapshot=true\n")
    assert(ContinuousIngest.requireFormat(spark, repV.root, "spec"))

    val restored = Snapshot.restore(spark, ex, s"$root/restored")
    assert(stampOf(restored.root) === s"format=$Format\n")
    assert(!ContinuousIngest.requireFormat(spark, restored.root, "spec"),
      "a restored root is a primary")
    assert(ContinuousIngest.ingestBatch(docs(Seq(9L)), 0L, restored, P)
      .count() === 1L, "a writer proceeds on the restored root")

    // a version tree that lost its stamp is refused by name
    setStamp(v.root, None)
    val eR = intercept[Throwable](
      Snapshot.restore(spark, ex, s"$root/restored2"))
    assert(msgs(eR).exists(_.contains("Snapshot.restore")) &&
      msgs(eR).exists(_.contains("is unstamped")), msgs(eR).mkString(";"))
    val eS = intercept[Throwable](Snapshot.sync(spark, ex, s"$root/replica2"))
    assert(msgs(eS).exists(_.contains("Snapshot.sync")) &&
      msgs(eS).exists(_.contains("is unstamped")), msgs(eS).mkString(";"))
  }
}
