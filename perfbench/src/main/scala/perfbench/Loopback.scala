package perfbench

import java.io.{BufferedWriter, ByteArrayOutputStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, ExecutorService}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback stand-in for both ends of the reference sync: it serves each
  * map's current FeatureCollection on `GET /map/<m>` (the CalTopo side)
  * and accepts delivered documents on `POST /sink/<sync>/<name>` (the
  * CloudTAK side). Map state is the generated corpus, rewritten between
  * syncs from the generated deltas. Posted bodies are buffered and flushed
  * to `posted.tsv` by the harness between ops, outside op timing.
  */
final class Loopback(corpus: Path, threads: Int) {
  // map id -> (feature id -> raw feature JSON), in corpus order
  private val maps = mutable.TreeMap.empty[Int, mutable.LinkedHashMap[String, String]]
  private val rendered = mutable.Map.empty[Int, Array[Byte]]

  Files.lines(corpus, UTF_8).forEach { line =>
    val Array(m, id, json) = line.split("\t", 3)
    maps.getOrElseUpdate(m.toInt, mutable.LinkedHashMap.empty)(id) = json
  }

  val getRequests = new AtomicLong
  val getBytes = new AtomicLong
  val servedFeatures = new AtomicLong
  val posts = new AtomicLong
  val postBytes = new AtomicLong
  private val posted = mutable.ArrayBuffer.empty[(Int, String, Array[Byte])]

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/map/", (ex: HttpExchange) => serveMap(ex))
  server.createContext("/sink/", (ex: HttpExchange) => accept(ex))
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def mapUrls: Seq[String] = maps.keys.toSeq.map(m => s"$base/map/$m")
  def featureCount: Int = maps.valuesIterator.map(_.size).sum

  /** Replace features in place (a rewrite keeps the feature's map slot). */
  def rewrite(changes: Seq[(Int, String, String)]): Unit = synchronized {
    changes.foreach { case (m, id, json) =>
      maps(m)(id) = json
      rendered.remove(m)
    }
  }

  private def doc(m: Int): (Array[Byte], Int) = synchronized {
    val feats = maps(m)
    val bytes = rendered.getOrElseUpdate(m,
      feats.valuesIterator.mkString(
        """{"result":{"state":{"type":"FeatureCollection","features":[""",
        ",", "]}}}").getBytes(UTF_8))
    (bytes, feats.size)
  }

  private def serveMap(ex: HttpExchange): Unit =
    try {
      val m = ex.getRequestURI.getPath.stripPrefix("/map/").toInt
      val (body, n) = doc(m)
      getRequests.incrementAndGet()
      getBytes.addAndGet(body.length)
      servedFeatures.addAndGet(n)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
    } catch {
      case _: NumberFormatException | _: NoSuchElementException =>
        ex.sendResponseHeaders(404, -1)
    } finally ex.close()

  private def accept(ex: HttpExchange): Unit =
    try {
      val Array(sync, name) = ex.getRequestURI.getPath.stripPrefix("/sink/").split("/", 2)
      val buf = new ByteArrayOutputStream
      ex.getRequestBody.transferTo(buf)
      val body = buf.toByteArray
      posts.incrementAndGet()
      postBytes.addAndGet(body.length)
      posted.synchronized { posted += ((sync.toInt, name, body)) }
      ex.sendResponseHeaders(200, -1)
    } finally ex.close()

  /** Append the bodies posted since the last flush as `sync \t name \t body`. */
  def flushPosted(out: BufferedWriter): Unit = {
    val batch = posted.synchronized {
      val b = posted.toList
      posted.clear()
      b
    }
    batch.foreach { case (sync, name, body) =>
      out.write(s"$sync\t$name\t")
      out.write(new String(body, UTF_8))
      out.write("\n")
    }
    out.flush()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}
