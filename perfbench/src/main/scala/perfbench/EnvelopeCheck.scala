package perfbench

import graft.sources.EnvelopeFeed

/** Envelopes the `text` field of a JSON-lines file through
  * `EnvelopeFeed.enveloped` into one text file, so the benchmark's
  * tests can compare gen.py's envelopes with the producer's byte for
  * byte. Usage: EnvelopeCheck <texts.jsonl> <out-dir> */
object EnvelopeCheck {
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args
    val spark = Common.session(1, s"$out-work")
    val texts = spark.read.schema("id long, text string").json(in).orderBy("id")
    EnvelopeFeed.enveloped(texts, "text").coalesce(1).write.mode("overwrite").text(out)
    spark.stop()
  }
}
