package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The DSv2 write path: chunked JSON envelopes through the V2 commit
  * protocol — deterministic chunk ids, manifest-on-commit, abort on
  * non-2xx (redcap-etl.py:226-282 semantics). */
class EavSinkSpec extends SparkSpec {
  import spark.implicits._

  private def records(n: Int) = (1 to n).map(i => (i.toLong, s"v$i"))
    .toDF("id", "value")
    .select(to_json(struct($"id", $"value")).as("record"))

  test("file mode: envelopes land as chunk files + manifest, ids deterministic") {
    val dir = java.nio.file.Files.createTempDirectory("eavsink").toFile
    records(25).repartition(2)
      .write.format("graft-eav")
      .option("path", dir.getAbsolutePath).option("chunk_rows", "10")
      .mode("append").save()
    val files = dir.listFiles().map(_.getName).sorted
    // 25 rows over 2 partitions, 10-row chunks → 2 files in one partition,
    // 2 in the other (+1 short), plus the chunk_0 manifest
    assert(files.contains("chunk_0.json"), files.mkString(","))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "chunk_0.json").toPath), StandardCharsets.UTF_8)
    assert(manifest.contains(""""manifest":true"""))
    assert(manifest.contains(""""n_rows":25"""))
    val chunks = files.filter(_ != "chunk_0.json")
    assert(chunks.forall(_.matches("chunk_\\d+\\.json")))
    // every record arrives exactly once across data chunks
    val all = chunks.map(f => new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, f).toPath), StandardCharsets.UTF_8)).mkString
    (1 to 25).foreach(i => assert(all.contains(s""""value":"v$i"""), i))
    // re-running the same write overwrites the same ids — no duplication
    records(25).repartition(2)
      .write.format("graft-eav")
      .option("path", dir.getAbsolutePath).option("chunk_rows", "10")
      .mode("append").save()
    assert(dir.listFiles().map(_.getName).sorted.sameElements(files))
  }

  test("http mode: one POST per chunk + terminal manifest; schema enforced") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val bodies = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    server.createContext("/lake", (ex: HttpExchange) => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      ex.sendResponseHeaders(200, 2)
      ex.getResponseBody.write("ok".getBytes); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/lake"
      records(12).repartition(3)
        .write.format("graft-eav").option("url", url).option("chunk_rows", "5")
        .mode("append").save()
      val all = bodies.toArray.map(_.toString)
      val manifests = all.filter(_.contains(""""manifest":true"""))
      assert(manifests.length == 1)
      assert(manifests.head.contains(""""n_rows":12"""))
      // the manifest arrives (commit) and every data chunk has a unique id
      val ids = all.filterNot(_.contains("manifest"))
        .map(_.split(":", 3)(1).takeWhile(_.isDigit))
      assert(ids.distinct.length == ids.length)
      // a wrong input schema is rejected before anything is posted
      val e = intercept[Exception] {
        Seq((1, "a")).toDF("x", "y").write.format("graft-eav")
          .option("url", url).mode("append").save()
      }
      assert(e.getMessage.contains("STRING column") ||
        Option(e.getCause).exists(_.getMessage.contains("STRING column")))
    } finally server.stop(0)
  }

  test("http mode: receiver failure aborts the job — no silent partial load") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val n = new AtomicInteger(0)
    val manifests = new AtomicInteger(0)
    server.createContext("/lake", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (body.contains(""""manifest":true""")) manifests.incrementAndGet()
      val code = if (n.incrementAndGet() >= 2) 503 else 200
      ex.sendResponseHeaders(code, 2)
      ex.getResponseBody.write("ng".getBytes); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/lake"
      intercept[Exception] {
        records(40).repartition(4)
          .write.format("graft-eav").option("url", url).option("chunk_rows", "5")
          .mode("append").save()
      }
      // the job failed BEFORE commit: the completeness marker never went out
      assert(manifests.get() == 0, "aborted write must not post a manifest")
    } finally server.stop(0)
  }
}
