package graft.sources

import java.nio.charset.StandardCharsets

/** Text lines to a stream as UTF-8 (what stdin is read as, whatever the
  * platform charset), written in 64 KB chunks instead of one write per
  * line. `mark` and `rollback` take back what was appended after the mark:
  * a record whose outputs fail halfway leaves nothing of them. */
final class LineBuffer(out: java.io.OutputStream) {
  private val text = new java.lang.StringBuilder()

  /** The buffer as a `Writer`, for a generator that writes into it. */
  val writer: java.io.Writer = new java.io.Writer {
    def write(cs: Array[Char], off: Int, len: Int): Unit = text.append(cs, off, len)
    def flush(): Unit = ()
    def close(): Unit = ()
  }

  def +=(line: String): Unit = { text.append(line).append('\n'); drainFull() }

  def mark: Int = text.length

  def rollback(mark: Int): Unit = text.setLength(mark)

  /** Writes the buffer out once it holds 64 KB. */
  def drainFull(): Unit = if (text.length >= (1 << 16)) flush()

  def flush(): Unit = {
    val b = text.toString.getBytes(StandardCharsets.UTF_8)
    out.write(b, 0, b.length); out.flush(); text.setLength(0)
  }
}
