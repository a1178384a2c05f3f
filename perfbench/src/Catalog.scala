package graftbench

import org.apache.spark.sql.Row

/** The catalog pass: ten registered `SparkEntry.queries` over the fixed
  * catalog tables, once per run, in an order the seed permutes. Each is
  * built (plan building, including any eager driver action) and forced
  * with `collect()` (the results are at most a few thousand rows), both
  * timed, inside a `queries.<name>` span. Each result's row count and
  * order-insensitive row hash ([[digest]]) go to the result, where the
  * harness compares them with `expected/catalog.json` (written from
  * DuckDB oracles by `expect.py`). The two queries without an oracle are
  * checked against plain-Scala references instead. */
object Catalog {
  val Queries = Seq("dedup_clusters", "dedup_ngram", "split_leak_safe", "export_plan",
    "curation_funnel", "text_rarity", "ann_ivfadc", "tpch_q1", "asof_last_click_tol",
    "freq_spacesaving_by_type")

  def run(c: Ctx, dir: String, seed: Long): Unit = {
    val queries = graft.SparkEntry.queries
    val results = c.traced {
      new scala.util.Random(seed).shuffle(Queries).map { q =>
        Tracer.span(s"queries.$q") {
          val (df, b) = c.op(s"queries.$q build")(queries(q)(c.spark, dir))
          val (rows, e) = c.op(s"queries.$q collect")(df.collect())
          c.layer(s"queries.$q.build_s", b)
          c.layer(s"queries.$q.exec_s", e)
          (q, df.columns, rows, b + e)
        }
      }
    }
    c.metric("catalog_s", results.map(_._4).sum, "s")
    c.info("catalog", results.map { case (q, cols, rows, _) =>
      q -> Map("rows" -> rows.length.toLong, "sha256" -> digest(cols, rows))
    }.toMap)
    for ((q, _, rows, _) <- results) q match {
      case "ann_ivfadc" => checkAnn(c, dir, rows)
      case "freq_spacesaving_by_type" => checkMisraGries(c, dir, rows)
      case _ =>
    }
  }

  /** Order-insensitive hash of a result: columns by name, one line per
    * row of tab-separated [[fmt]] values, lines sorted. `expect.py`
    * computes the same over DuckDB's rows. */
  def digest(columns: Array[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val lines = rows.map(r => order.map(i => fmt(r.get(i))).mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Integers exactly, fractions to 7 significant digits (two engines
    * may sum doubles in different orders). */
  def fmt(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case d: Double => String.format(java.util.Locale.ROOT, "%.6e", Double.box(d))
    case f: Float => fmt(f.toDouble)
    case d: java.math.BigDecimal => fmt(d.doubleValue)
    case s: String => s
    case r: Row => r.toSeq.map(fmt).mkString("[", ",", "]")
    case xs: scala.collection.Seq[_] => xs.map(fmt).mkString("[", ",", "]")
    case other => other.toString
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** `ann_ivfadc`: one neighbour per vector, never itself, and its
    * cosine within ε = 0.15 of the brute-force best for at least 80% of
    * the vectors: the ε-recall@1 floor of the engine's own IVFADC check
    * (within a cluster of near-isotropic vectors the exact argmax is
    * close to a coin toss; a broken index scores near 0 either way). */
  private def checkAnn(c: Ctx, dir: String, rows: Array[Row]): Unit = {
    val vecs = c.spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val got = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("nn_id"))
    c.check("catalog_ann_ivfadc_one_neighbour_per_vector",
      got.map(_._1).distinct.length == vecs.size && got.forall { case (a, b) => a != b },
      s"${got.length} rows for ${vecs.size} vectors")
    val ids = vecs.keys.toArray
    val gaps = got.map { case (q, nn) =>
      val best = ids.iterator.filter(_ != q).map(j => cos(vecs(q), vecs(j))).max
      if (vecs.contains(nn)) best - cos(vecs(q), vecs(nn)) else Double.PositiveInfinity
    }
    def recall(eps: Double) = gaps.count(_ <= eps).toDouble / math.max(1, gaps.length)
    c.info("catalog_ann_ivfadc_recall_at_1", recall(1e-6))
    c.info("catalog_ann_ivfadc_eps_recall_at_1", recall(0.15))
    c.check("catalog_ann_ivfadc_eps_recall_at_1_ge_0.8", recall(0.15) >= 0.8,
      f"ε-recall ${recall(0.15)}%.3f")
  }

  /** `freq_spacesaving_by_type`, per event type against an exact count:
    * est ≤ true ≤ est + err for reported items, true ≤ err for the
    * others, err ≤ n / 17 (16 counters) and n = the type's event count. */
  private def checkMisraGries(c: Ctx, dir: String, rows: Array[Row]): Unit = {
    val exact = c.spark.read.parquet(s"$dir/events.parquet").select("event_type", "user_id")
      .collect().groupBy(_.getString(0)).map { case (t, rs) =>
        t -> rs.groupBy(_.getLong(1)).map { case (u, xs) => u -> xs.length.toLong }
      }
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    val bad = exact.toSeq.flatMap { case (t, counts) =>
      val rs = byType.getOrElse(t, Array.empty[Row])
      val n = counts.values.sum
      val est = rs.map(r => r.getAs[Long]("item") -> r.getAs[Long]("est")).toMap
      val err = rs.headOption.map(_.getAs[Long]("err")).getOrElse(0L)
      val ns = rs.map(_.getAs[Long]("n")).distinct
      val broken = counts.collect {
        case (u, k) if est.get(u).exists(e => e > k || k > e + err) => s"$t/$u est ${est(u)} true $k err $err"
        case (u, k) if !est.contains(u) && k > err => s"$t/$u absent, true $k > err $err"
      }.toSeq
      broken ++ (if (rs.isEmpty || ns.toSeq != Seq(n)) Seq(s"$t: n ${ns.mkString(",")} != $n") else Nil) ++
        (if (err * 17 > n) Seq(s"$t: err $err > n/17 (n $n)") else Nil)
    }
    c.check("catalog_freq_spacesaving_by_type_laws", bad.isEmpty, bad.take(3).mkString("; "))
  }
}
