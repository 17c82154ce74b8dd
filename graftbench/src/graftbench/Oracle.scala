package graftbench

import scala.collection.mutable.ArrayBuffer

/** Computations the checks compare the program against. None of them
  * calls into graft: each is written from the behaviour the reference
  * pipeline specifies (chunking, Jaccard, exact kNN, greedy context), so
  * a defect in the program cannot hide in its own oracle.
  */
object Oracle {

  // ---------------------------------------------------------------- chunk

  private val Ends = Seq(". ", "! ", "? ", "\n\n")

  private def isWs(c: Char) = Character.isWhitespace(c) || Character.isSpaceChar(c)

  private def strip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isWs(s.charAt(a))) a += 1
    while (b > a && isWs(s.charAt(b - 1))) b -= 1
    s.substring(a, b)
  }

  /** Port of the reference `chunk_text(text, chunk_size, overlap)`:
    *
    * {{{
    * if len(text) <= chunk_size: return [text]
    * chunks, start = [], 0
    * while start < len(text):
    *     end = start + chunk_size
    *     if end < len(text):
    *         for i in range(end - overlap, end):
    *             if text[i:i+2] in ('. ', '! ', '? ', '\n\n'): end = i + 2
    *     chunk = text[start:end].strip()
    *     if chunk: chunks.append(chunk)
    *     start = end - overlap
    * return chunks
    * }}}
    */
  def chunkText(text: String, size: Int = 600, overlap: Int = 50): Seq[String] = {
    if (text.length <= size) return Seq(text)
    val out = ArrayBuffer.empty[String]
    var start = 0
    while (start < text.length) {
      var end = start + size
      if (end < text.length) {
        for (i <- end - overlap until end) {
          val two = text.substring(i, math.min(i + 2, text.length))
          if (Ends.contains(two)) end = i + 2
        }
      }
      val c = strip(text.substring(start, math.min(end, text.length)))
      if (c.nonEmpty) out += c
      start = end - overlap
    }
    out.toSeq
  }

  // -------------------------------------------------------------- jaccard

  /** Distinct character 5-gram set (the reference near-dup definition). */
  def shingles(text: String, n: Int = 5): Set[String] =
    if (text.length < n) Set(text)
    else (0 to text.length - n).iterator.map(i => text.substring(i, i + n)).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  // ------------------------------------------------------------ distances

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); acc += d * d; i += 1 }
    acc
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Exact top-k by (distance ascending, id ascending). */
  def topK(rows: Iterable[(String, Array[Float])], q: Array[Float], k: Int,
           dist: (Array[Float], Array[Float]) => Double = l2sq): Seq[(String, Double)] = {
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, String)](ord)
    rows.foreach { case (id, v) =>
      val d = dist(v, q)
      if (heap.size < k) heap.enqueue((d, id))
      else if (ord.lt((d, id), heap.head)) { heap.dequeue(); heap.enqueue((d, id)) }
    }
    heap.dequeueAll[(Double, String)].reverse.map { case (d, id) => (id, d) }
  }

  // -------------------------------------------------------------- context

  /** Reference `get_context_for_rag`: pieces in rank order, keep while the
    * running length stays within `maxLen` (stop at the first overflow),
    * joined with "\n---\n". */
  def context(hits: Seq[(String, String, String)], maxLen: Int = 4000): String = {
    val parts = ArrayBuffer.empty[String]
    var total = 0
    val it = hits.iterator
    var stop = false
    while (!stop && it.hasNext) {
      val (source, chunkId, text) = it.next()
      val piece = s"[Source: $source, Chunk: $chunkId]\n$text\n"
      if (total + piece.length > maxLen) stop = true
      else { parts += piece; total += piece.length }
    }
    parts.mkString("\n---\n")
  }

  /** Nearest centroid by (double squared L2, cell id). */
  def nearestCell(v: Array[Float], cents: Seq[(Int, Array[Float])]): Int =
    cents.minBy { case (cid, c) => (l2sq(v, c), cid) }(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))._1
}
