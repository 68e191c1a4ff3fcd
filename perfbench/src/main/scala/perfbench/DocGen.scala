package perfbench

import org.apache.spark.sql.SparkSession

/** The `documents` table the LLM-data-pipeline operators read, in the
  * shape of the project's sf-scaled test corpora: doc ids 0..n-1, a
  * 30-token vocabulary, 10 to 99 tokens per document, five languages,
  * twenty sources, and planted exact and near duplicates (the near ones
  * carry the token `dup`).
  *
  * The base corpus is fixed. A run's seed picks one of the vocabulary's
  * bijective rotations (token -> vocab[(rank + k) mod V], the same map
  * `graft.tools.ScaleGen` uses), which keeps every within-corpus
  * similarity relation and so the workload's shape. There are V
  * distinct inputs, and the expected outputs of each are pinned. */
object DocGen {
  val Vocab: IndexedSeq[String] = (Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window",
    "fast") :+ "dup").sorted.toIndexedSeq
  private val Langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "fr", "de")
  private val BaseSeed = 20260101L

  def rotation(seed: Long): Int = Math.floorMod(seed, Vocab.size.toLong).toInt

  /** Base corpus texts, before rotation. */
  def baseTexts(n: Int): IndexedSeq[String] = {
    val rnd = new java.util.SplittableRandom(BaseSeed)
    val words = Vocab.filter(_ != "dup")
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = rnd.nextDouble()
      out(i) =
        if (i > 10 && u < 0.002) out(rnd.nextInt(i)) // exact duplicate
        else if (i > 10 && u < 0.05) { // near duplicate
          val toks = out(rnd.nextInt(i)).split(' ')
          toks(rnd.nextInt(toks.length)) = "dup"
          toks.mkString(" ")
        } else Seq.fill(10 + rnd.nextInt(90))(words(rnd.nextInt(words.size)))
          .mkString(" ")
      i += 1
    }
    out.toIndexedSeq
  }

  /** Writes `dir/documents.parquet` for rotation `k`. */
  def write(spark: SparkSession, dir: String, n: Int, k: Int): Unit = {
    import spark.implicits._
    val rank = Vocab.zipWithIndex.toMap
    val rows = baseTexts(n).zipWithIndex.map { case (t, i) =>
      val text = t.split(' ').map(w => Vocab((rank(w) + k) % Vocab.size)).mkString(" ")
      (i.toLong, text, Langs(i % Langs.length), s"src${i % 20}", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
