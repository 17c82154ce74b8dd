package graftbench

import graft.embed.{Embedder, EmbedderId}

/** Traced runs wrap the embedder to time its forward passes where they
  * run (inside Spark tasks for passages, on the driver for queries). The
  * identity is the wrapped one, so manifest checks see the same space. */
final case class TimedEmbedder(inner: Embedder, counter: String) extends Embedder {
  override def dim: Int = inner.dim
  override def identity: EmbedderId = inner.identity
  override def encode(texts: Seq[String]): Seq[Array[Float]] = {
    val cpu0 = JvmStats.threadCpuNs
    val t0 = System.nanoTime()
    val out = inner.encode(texts)
    Trace.add(counter, System.nanoTime() - t0)
    Trace.add(counter + ".cpu", JvmStats.threadCpuNs - cpu0)
    out
  }
  override def encodeOne(text: String): Array[Float] =
    Trace.span(counter + ".one")(inner.encodeOne(text))
}
