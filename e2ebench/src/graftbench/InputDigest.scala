package graftbench

/** Prints the SHA-256 of every workload's generated inputs for a seed,
  * one `<workload> <digest>` line each — what `test_inputs.py` compares
  * across repeated generations.
  *
  *   InputDigest <seed>
  */
object InputDigest {
  def digests(seed: Long): Seq[(String, String)] = Seq(
    "ingest" -> Gen.ingestCorpus(seed).digest,
    "dedup" -> Gen.dedupCorpus(seed, DedupLoad.Docs, DedupLoad.LongDocs, DedupLoad.EvalDocs).digest,
    "serve" -> ServeLoad.digest(seed))

  def main(args: Array[String]): Unit =
    digests(args(0).toLong).foreach { case (w, d) => println(s"$w $d") }
}
