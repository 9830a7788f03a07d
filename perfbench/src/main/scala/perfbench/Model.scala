package perfbench

/** The generating model of every benchmark input, written out in plain
  * Scala from its definition (the 31-bit LCG chain that derives a
  * sequence's metadata from its id, the xor-shift token chain, and the
  * three log line shapes). The log files of `sql_logs` and `follow` are
  * rendered from it, and the correctness checks recompute expected
  * results from it, without Spark, without a regex and without the
  * library's generator code. */
object Model {
  private final val M = 2147483648L // 2^31
  private final val A = 1103515245L
  private final val C = 12345L
  private final val Vocab = 50257L

  final case class Seq1(id: Long, doc: String, nTok: Int, source: String, r3: Long) {
    /** The pipeline's routing rule, from the generated fields. */
    def sink: String = if (r3 % 37 == 0) "audit" else if (nTok >= 512) "bulk" else "ingest"
  }

  private val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  /** The log line of a sequence, in the pipeline's three line shapes. */
  def line(q: Seq1): String = {
    val r3 = q.r3
    if (q.sink == "audit") s"AUDIT|${q.doc}|${q.source}|${q.nTok}|ok"
    else {
      val ts = f"${months(((r3 / 2419200) % 12).toInt)} ${r3 % 28 + 1} " +
        f"${(r3 / 28) % 24}%02d:${(r3 / 672) % 60}%02d:${(r3 / 40320) % 60}%02d 2024 " +
        s"node${r3 % 16}"
      val pid = r3 % 9000 + 1000
      if (q.sink == "bulk") s"$ts bulk[$pid]: batch ${q.doc} src=${q.source} toks=${q.nTok}"
      else s"$ts ingest[$pid]: sequence ${q.doc} from ${q.source} n_tok=${q.nTok}"
    }
  }

  /** Writes the log lines of sequences [from, until) to `path`. */
  def writeLog(path: java.nio.file.Path, from: Long, until: Long): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      var id = from
      while (id < until) { w.write(line(seq(id))); w.write('\n'); id += 1 }
    } finally w.close()
  }

  val sources: Seq[String] = Seq("web", "books", "code") ++ (0 until 17).map(i => s"src$i")

  def seq(id: Long): Seq1 = {
    val s = ((id % M) * 131071L + 524287L) % M
    val r1 = (s * A + C) % M
    val r2 = (r1 * A + C) % M
    val r3 = (r2 * A + C) % M
    val nTok = (8L + (r1 % 45L) * (r2 % 46L)).toInt
    val sel = r2 % 100L
    val source =
      if (sel < 45) "web" else if (sel < 62) "books" else if (sel < 72) "code"
      else s"src${r2 % 17}"
    Seq1(id, f"doc-$id%012d", nTok, source, r3)
  }

  /** Sum of the token ids of sequence `id`. */
  def tokenSum(id: Long, nTok: Int): Long = {
    val s = ((id % M) * 131071L + 524287L) % M
    var sum = 0L
    var j = 1
    while (j <= nTok) {
      val u = (s + j * 48271L) % M
      val v = u ^ (u >>> 15)
      sum += ((v * A + C) % M) % Vocab
      j += 1
    }
    sum
  }
}
