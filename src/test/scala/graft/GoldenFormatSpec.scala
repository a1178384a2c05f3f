package graft

import graft.pipelines.Hw3
import org.apache.spark.sql.functions._

/** Byte-level STRUCTURE parity with the reference's HW3 outputs
  * (`HWK_3/output_examples/Output1M_007_003_01_888{6,8}.txt`). The
  * item VALUES are unreproducible (the university stream host is
  * unreachable), but the line skeleton — section headers, `m = …` line,
  * `item +/-` layout, ordering — is fully specified by the goldens and
  * must match verbatim. The skeleton below was read off both goldens;
  * the report is checked against it on a small skewed stream and on
  * seeded streams shaped like the goldens' two regimes.
  *
  * Skeleton = each line with numbers replaced by `#`, the +/- truth
  * annotation by `?`, then consecutive identical lines collapsed (item
  * blocks have data-dependent length).
  */
class GoldenFormatSpec extends SparkSpec {

  private val expectedSkeleton = Seq(
    "INPUT PROPERTIES",
    "n = # phi = # epsilon = # delta = # port = #",
    "EXACT ALGORITHM",
    "Number of items in the data structure = #",
    "Number of true frequent items = #",
    "True frequent items:",
    "#",
    "RESERVOIR SAMPLING",
    "Size m of the sample = #",
    "Number of estimated frequent items = #",
    "Estimated frequent items:",
    "# ?",
    "STICKY SAMPLING",
    "Number of items in the Hash Table = #",
    "Number of estimated frequent items = #",
    "Estimated frequent items:",
    "# ?")

  private def skeleton(lines: Seq[String]): Seq[String] = {
    val norm = lines
      .map(_.replaceAll("[+-]$", "?"))
      .map(_.replaceAll("-?\\d+(\\.\\d+)?([eE]-?\\d+)?", "#"))
    // collapse runs of identical lines (variable-length item blocks)
    norm.foldLeft(List.empty[String]) {
      case (acc, l) if acc.headOption.contains(l) => acc
      case (acc, l)                               => l :: acc
    }.reverse
  }

  test("Hw3 report emits the exact golden line skeleton") {
    import spark.implicits._
    // skewed synthetic stream: item 1 holds half the mass, so every
    // section's item block is deterministically non-empty
    val items = (1L to 2000L)
      .map(i => (i, if (i % 2 == 0) 1L else i))
      .toDF("ord", "item")
    val lines = Hw3.run(items, 2000L, 0.07, 0.03, 0.1, port = "8886")
    assert(skeleton(lines) == expectedSkeleton,
      s"report skeleton diverged:\n${skeleton(lines).mkString("\n")}")
    // and the golden's verbatim header lines appear verbatim in ours
    val headers = Set("INPUT PROPERTIES", "EXACT ALGORITHM", "True frequent items:",
      "RESERVOIR SAMPLING", "STICKY SAMPLING", "Estimated frequent items:")
    assert(headers.forall(lines.contains), "missing verbatim section header")
    // one more input per golden: its parameters (n = 10⁶, φ = 0.07,
    // ε = 0.03, δ = 0.1, the port) over a seeded stream of its shape —
    // 10 heavy hitters of 7.5 % each over a long tail of 199 444
    // (port 8886) or 39 886 (port 8888) distinct items
    val n = 1000000L
    for ((port, tail) <- Seq(("8886", 199444L), ("8888", 39886L))) {
      val h = pmod(xxhash64(col("id"), lit(port.toLong)), lit(1000000L))
      val stream = spark.range(n).select(col("id").as("ord"),
        when(h < 750000L, pmod(h, lit(10L)) + 1000000000L)
          .otherwise(pmod(h, lit(tail)) + 1L).as("item"))
      val got = Hw3.run(stream, n, 0.07, 0.03, 0.1, port = port)
      assert(got.head == "INPUT PROPERTIES" &&
        got(1) == s"n = $n phi = 0.07 epsilon = 0.03 delta = 0.1 port = $port",
        got.take(2).mkString("\n"))
      assert(skeleton(got) == expectedSkeleton,
        s"port $port skeleton diverged:\n${skeleton(got).mkString("\n")}")
    }
  }
}
