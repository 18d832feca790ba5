package graft.sources.cdc

import java.io.{EOFException, IOException, InputStream}

/** Transient-failure policy for the pull-model wire sessions the socket
  * change sources open per log read (the reference's
  * `connect.max-retries` / `connect.timeout` knobs on MySqlSourceBuilder).
  *
  * A dump session is a PURE pull: no server-side state advances until the
  * runtime checkpoints (binlog NON_BLOCK dump; walsender confirmed_flush
  * moves only on standby-status frames the client sends with the
  * CHECKPOINTED position; change-stream cursors are re-opened from the
  * checkpointed resume token). So a mid-session disconnect is retried by
  * simply RE-REQUESTING the same window — idempotent by construction,
  * which is what lets at-least-once session attempts compose with the
  * checkpoint machinery into exactly-once delivery.
  *
  * Retried: I/O failures — connection refused or reset, and the
  * [[EOFException]] of [[readExactly]] when the server died mid-frame.
  * NOT retried: protocol refusals — a recycled-WAL ErrorResponse or an
  * invalidate-token rejection is a permanent answer; retrying it would
  * only delay the loud failure the contract requires.
  */
object WireRetry {

  def withRetries[A](attempts: Int = 3, backoffMs: Long = 20)(f: => A): A =
    try f
    catch {
      case _: IOException if attempts > 1 =>
        Thread.sleep(backoffMs)
        withRetries(attempts - 1, backoffMs * 2)(f)
    }

  /** The next `n` bytes of a framed wire stream, for every framer of the
    * socket doubles; a stream that ends first fails with [[EOFException]]. */
  def readExactly(in: InputStream, n: Int): Array[Byte] = {
    val buf = in.readNBytes(n)
    if (buf.length < n)
      throw new EOFException(s"connection closed mid-message (${buf.length}/$n bytes)")
    buf
  }
}
