package graft.sources.cdc

import java.io.IOException
import java.net.{InetAddress, ServerSocket, Socket}

/** The TCP side of the in-process wire doubles: a listener bound to the
  * loopback address, with a daemon thread that accepts connections and a
  * daemon thread per connection running the double's own handler. The
  * handler sets its own socket options; a handler that throws (a client
  * hangup mid-session is normal) ends its connection, which is then
  * closed. [[stop]] closes the listener; open connections run on.
  */
final class LoopbackListener private (server: ServerSocket) {
  def port: Int = server.getLocalPort
  def stop(): Unit = try server.close() catch { case _: IOException => () }
}

object LoopbackListener {
  /** Bind `port` (0 = any free port) and start accepting. */
  def start(name: String, port: Int)(handle: Socket => Unit): LoopbackListener = {
    val server = new ServerSocket(port, 16, InetAddress.getLoopbackAddress)
    daemon(s"$name-accept") {
      try while (true) {
        val sock = server.accept()
        daemon(s"$name-conn") {
          try handle(sock) catch { case _: Throwable => () } finally sock.close()
        }
      } catch { case _: IOException => () } // the listener was closed
    }
    new LoopbackListener(server)
  }

  private def daemon(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
  }
}
