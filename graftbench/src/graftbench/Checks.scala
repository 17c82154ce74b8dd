package graftbench

/** The checks as pure functions: each returns a description of what is
  * wrong, or None. The workloads apply them to the program's outputs;
  * [[SelfTest]] plants wrong answers to show each one rejects. */
object Checks {

  /** Compare a returned ranking with the exact one. A position may hold
    * a different id only when both ids sit within `tol` of each other
    * (a float tie the engine may break either way); returned distances
    * must match the oracle's distance of the same id within `tol`.
    * Returns a description of the first disagreement, if any. */
  def ranking(got: Seq[(String, Double)], want: Seq[(String, Double)],
              distOf: String => Option[Double], tol: Double = 1e-5): Option[String] = {
    if (got.size != want.size)
      return Some(s"${got.size} hits, expected ${want.size}")
    if (got.map(_._1).distinct.size != got.size) return Some("duplicate ids in hits")
    got.zip(want).zipWithIndex.collectFirst {
      case (((gid, gd), (wid, wd)), i)
          if distOf(gid).forall(d => math.abs(d - gd) > tol) ||
            (gid != wid && distOf(gid).forall(d => math.abs(d - wd) > tol)) =>
        s"rank $i: got $gid@$gd (oracle ${distOf(gid).getOrElse("absent")}), " +
          s"expected $wid@$wd"
    }
  }

  /** Each stored (chunk, vector) equals a fresh encode of that chunk. */
  def vectors(rows: Seq[(String, Array[Float])], encode: String => Array[Float]): Option[String] =
    rows.collectFirst {
      case (chunk, got) if {
        val want = encode(chunk)
        got.length != want.length || got.indices.exists(i => math.abs(got(i) - want(i)) > 1e-6f)
      } => s"stored vector of chunk '${chunk.take(40)}...' is not its embedding"
    }

  /** Live rows (id, content) against the model of upserts and deletes. */
  def liveSet(got: Seq[(String, String)], model: collection.Map[String, String]): Option[String] =
    if (got.map(_._1).distinct.size != got.size) Some("an id is returned twice")
    else got.collectFirst {
      case (id, _) if !model.contains(id) => s"$id is returned but deleted or never written"
      case (id, c) if model(id) != c => s"$id is returned at a stale version"
    }.orElse(
      if (got.size != model.size) Some(s"${got.size} live rows, the model holds ${model.size}")
      else None)

  /** Dropped documents are exactly the planted near-duplicates. */
  def dropped(dropped: Set[String], planted: Set[String]): Option[String] =
    if (dropped == planted) None
    else Some(s"dropped but not planted: ${(dropped -- planted).toSeq.sorted.take(3)}; " +
      s"planted but kept: ${(planted -- dropped).toSeq.sorted.take(3)}")

  /** A document's stored chunks (in chunk_index order) against the
    * reference chunker over its extracted text. */
  def chunks(got: Seq[String], text: String): Option[String] = {
    val want = Oracle.chunkText(text)
    if (got == want) None
    else Some(s"${got.size} chunks against ${want.size} from the reference chunker; first " +
      s"difference at ${got.zipAll(want, "", "").indexWhere { case (a, b) => a != b }}")
  }

  /** Extracted text matches the planted text word for word. */
  def words(extracted: String, planted: String): Option[String] =
    if (extracted.split("\\s+").filter(_.nonEmpty).toSeq == planted.split(" ").toSeq) None
    else Some("extracted words differ from the planted text")
}
