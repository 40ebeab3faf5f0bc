package graft.functions

/** Kernels behind the second tier of scalar-function families. */
object FnExtras {

  /** Char-trigram set kernel for `b_fns4_ngram_sim` (CH `ngramDistance`).
    * Plain JIT'd loops; sets are per-row and bounded by string length.
    */
  private[functions] object NgramKernel extends Serializable {
    def jaccard(a: String, b: String): Double = {
      val sa = trigrams(a)
      val sb = trigrams(b)
      if (sa.isEmpty && sb.isEmpty) 1.0
      else {
        var inter = 0
        sa.foreach(g => if (sb.contains(g)) inter += 1)
        inter.toDouble / (sa.size + sb.size - inter)
      }
    }
    private def trigrams(s: String): scala.collection.mutable.HashSet[String] = {
      val set = new scala.collection.mutable.HashSet[String]
      var i = 0
      while (i + 3 <= s.length) { set.add(s.substring(i, i + 3)); i += 1 }
      set
    }
  }
}
