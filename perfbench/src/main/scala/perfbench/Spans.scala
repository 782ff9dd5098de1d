package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** In-memory spans around the benchmark's calls into the engine: name,
  * start, end, parent span and a trace id per upload or query. Written
  * out once, when the run ends. */
final class Spans {
  private val base = System.nanoTime()
  private val lines = ArrayBuffer.empty[String]
  private var stack = List.empty[Long]
  private var nextId = 1L
  var trace: String = "setup"

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      lines += Json.obj(
        "trace" -> trace, "id" -> id, "parent" -> parent, "name" -> name,
        "start_us" -> (t0 - base) / 1000, "end_us" -> (t1 - base) / 1000)
    }
  }

  def write(path: Path): Unit =
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
}

/** The benchmark's records as JSON text. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def write(m: Map[String, Any]): String = Serialization.write(m)

  def obj(fields: (String, Any)*): String = write(fields.toMap)
}
