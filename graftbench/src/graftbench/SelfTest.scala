package graftbench

/** Shows on tiny inputs that every check accepts the right answer and
  * rejects a planted wrong one. Runs without Spark at the start of every
  * benchmark run (a check that cannot fail would make `correct`
  * meaningless), and alone with `run.py --selftest`. */
object SelfTest {
  final case class Case(name: String, right: Option[String], wrong: Option[String])

  def cases(): Seq[Case] = {
    // ranking: five rows on a line, query at the origin
    val rows = Seq("a" -> 1f, "b" -> 2f, "c" -> 3f, "d" -> 4f, "e" -> 5f)
      .map { case (id, x) => (id, Array(x, 0f)) }
    val q = Array(0f, 0f)
    val want = Oracle.topK(rows, q, 3)
    val distOf = (id: String) => rows.find(_._1 == id).map(r => Oracle.l2sq(r._2, q))
    val dropped = Seq(want(0), want(2), ("d", 16.0))
    val reordered = Seq(want(1), want(0), want(2))

    // vectors: two chunks with their embeddings swapped
    val enc = graft.embed.TransformerEmbedder()
    val chunks = Seq("the baggage allowance is two bags", "boarding starts at the gate")
    val stored = chunks.map(c => (c, enc.encodeOne(c)))
    val swapped = Seq((chunks(0), stored(1)._2), (chunks(1), stored(0)._2))

    // live set: a deleted id comes back
    val model = Map("m1" -> "r1", "m2" -> "r2")
    val live = Seq("m1" -> "r1", "m2" -> "r2")

    // chunks: a boundary moved by one character
    val text = Corpus.text(new scala.util.Random(7), 0, 400)
    val right = Oracle.chunkText(text)
    val moved = (right(0) + right(1).take(1)) +: right(1).drop(1) +: right.drop(2)

    val words = "Boarding starts at the gate. Seats are assigned."
    Seq(
      Case("hit dropped", Checks.ranking(want, want, distOf), Checks.ranking(dropped, want, distOf)),
      Case("hits reordered", Checks.ranking(want, want, distOf), Checks.ranking(reordered, want, distOf)),
      Case("vectors swapped", Checks.vectors(stored, enc.encodeOne), Checks.vectors(swapped, enc.encodeOne)),
      Case("deleted id returned", Checks.liveSet(live, model), Checks.liveSet(live :+ ("m3" -> "r3"), model)),
      Case("stale version returned", Checks.liveSet(live, model),
        Checks.liveSet(Seq("m1" -> "r0", "m2" -> "r2"), model)),
      Case("non-duplicate dropped", Checks.dropped(Set("d1"), Set("d1")),
        Checks.dropped(Set("d1", "d7"), Set("d1"))),
      Case("chunk boundary moved", Checks.chunks(right, text), Checks.chunks(moved, text)),
      Case("word lost in extraction", Checks.words(words.replace(" ", "\n"), words),
        Checks.words(words.replace("the ", ""), words)))
  }

  /** Failures of the self-test, empty when every check behaves. */
  def failures(): Seq[String] = cases().flatMap { c =>
    c.right.map(e => s"${c.name}: the right answer was rejected ($e)").toSeq ++
      (if (c.wrong.isEmpty) Seq(s"${c.name}: the planted wrong answer was accepted") else Nil)
  }

  /** Prints what each check said about its planted wrong answer;
    * true when every check behaved. */
  def run(): Boolean = {
    val f = failures()
    cases().foreach(c => System.err.println(s"[selftest] ${c.name}: rejected with: ${c.wrong.getOrElse("NOTHING")}"))
    f.foreach(e => System.err.println(s"[selftest] FAILED $e"))
    if (f.isEmpty) System.err.println(s"[selftest] all ${cases().size} checks reject their planted wrong answer")
    f.isEmpty
  }
}
