package graft

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Connectors, HttpTransport, JdkHttpTransport}

/** Connector surface (S1/S9/S11) exercised end-to-end against a local
  * JDK HttpServer fixture — the transport is the production
  * [[JdkHttpTransport]], the endpoints mimic ODK Central's published
  * REST shapes, and the landed files flow into the schema-explicit
  * Spark reads. No external network is touched.
  */
class ConnectorsSpec extends SparkSpec {

  private def zipOf(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes(UTF_8))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  /** One-shot fixture server; returns (baseUrl, seenRequests, stop). */
  private def fixtureServer(routes: Map[String, Array[Byte]])
      : (String, collection.mutable.Buffer[(String, String, Array[Byte])], () => Unit) = {
    val seen = collection.mutable.Buffer.empty[(String, String, Array[Byte])]
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      val body = ex.getRequestBody.readAllBytes()
      seen += ((path, auth, body))
      routes.get(path) match {
        case Some(bytes) =>
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
        case None => ex.sendResponseHeaders(404, -1)
      }
      ex.close()
    })
    server.start()
    (s"http://127.0.0.1:${server.getAddress.getPort}", seen, () => server.stop(0))
  }

  test("S1 end-to-end: ODK submission export over HTTP lands, unzips, reads, joins") {
    val landing = graft.core.TempDirs.scratch("graft_odk_http").toString
    val zip = zipOf(
      "safety.csv" -> "KEY,hhid\nuuid:1,00007\n",
      "safety-repeat_individual.csv" ->
        "KEY,PARENT_KEY,extid\nuuid:1/r[1],uuid:1,00007-01\n",
      // hostile entry name must land as its basename, never escape
      "../evil.csv" -> "KEY\nx\n")
    val (base, seen, stop) = fixtureServer(Map(
      "/v1/projects/5/forms/safety/submissions.csv.zip" -> zip))
    try {
      val manifest = Connectors.fetchOdkExport(new JdkHttpTransport(), base,
        token = "tok123", projectId = 5, formId = "safety", landingRoot = landing)
      assert(manifest.toSet ==
        Set("safety.csv", "safety-repeat_individual.csv", "evil.csv"))
      assert(seen.head._2 == "Bearer tok123")
      assert(!Files.exists(java.nio.file.Paths.get(landing).resolve("evil.csv")))
      assert(Files.exists(Connectors.formDir(landing, "safety").resolve("safety.zip")))

      val parent = Connectors.odkFormTable(spark, landing, "safety",
        StructType(Seq(StructField("KEY", StringType), StructField("hhid", StringType))))
      val child = Connectors.odkFormTable(spark, landing, "safety",
        StructType(Seq(StructField("KEY", StringType),
          StructField("PARENT_KEY", StringType), StructField("extid", StringType))),
        repeatName = Some("repeat_individual"))
      val joined = child.join(parent.withColumnRenamed("KEY", "PKEY"),
        col("PARENT_KEY") === col("PKEY"))
      assert(joined.count() == 1)
      assert(joined.head().getAs[String]("hhid") == "00007")
    } finally stop()
  }

  test("S1: form list parses xmlFormIds and skips closed forms") {
    val forms =
      """[{"xmlFormId":"safety","state":"open","name":"Safety"},
        |{"xmlFormId":"old_census","state":"closed"},
        |{"xmlFormId":"efficacy","state":"open"}]""".stripMargin.getBytes(UTF_8)
    val (base, _, stop) = fixtureServer(Map("/v1/projects/5/forms" -> forms))
    try {
      val ids = Connectors.odkFormList(new JdkHttpTransport(), base, "t", 5)
      assert(ids == Seq("safety", "efficacy"))
    } finally stop()
  }

  test("S9: tracker sheet fetched over HTTP reads as the resolution table") {
    val landing = graft.core.TempDirs.scratch("graft_sheet").toString + "/tracker.csv"
    val csv = "key,column,setTo,operation\nuuid:9,visit,V2,SET\n".getBytes(UTF_8)
    val (base, _, stop) = fixtureServer(Map("/export" -> csv))
    try {
      val path = Connectors.fetchTrackerSheet(new JdkHttpTransport(),
        s"$base/export?format=csv&gid=0", landing)
      val t = Connectors.resolutionTracker(spark, path)
      assert(rows(t) ==
        rows(df("SELECT 'uuid:9' AS key, 'visit' AS column, 'V2' AS setTo, 'SET' AS operation")))
    } finally stop()
  }

  test("S9/S11: publishTable stages a CSV that uploadStaged POSTs verbatim") {
    val staging = graft.core.TempDirs.scratch("graft_pub").toString + "/out"
    val res = df("SELECT 'uuid:9' AS key, 'visit' AS column, 'V2' AS setTo, 'SET' AS operation")
    Connectors.publishTable(res, staging)
    val (base, seen, stop) = fixtureServer(Map("/ingest" -> Array[Byte]()))
    try {
      val n = Connectors.uploadStaged(new JdkHttpTransport(), staging, s"$base/ingest")
      val posted = new String(seen.head._3, UTF_8)
      assert(posted.length == n)
      assert(posted.linesIterator.toSeq ==
        Seq("key,column,setTo,operation", "uuid:9,visit,V2,SET"))
    } finally stop()
  }

  test("S10: zipFormDir packages a staged folder by basename, byte-stable, re-run safe") {
    import java.util.zip.ZipInputStream
    val dir = graft.core.TempDirs.scratch("graft_zip")
    Files.write(dir.resolve("b_form.csv"), "KEY,v\nuuid:1,2\n".getBytes(UTF_8))
    Files.write(dir.resolve("a_form.csv"), "KEY\nuuid:2\n".getBytes(UTF_8))
    Files.createDirectory(dir.resolve("sub")) // non-recursive, like R dir()
    Files.write(dir.resolve("sub").resolve("nested.csv"), "x\n".getBytes(UTF_8))

    val entries = Connectors.zipFormDir(dir.toString)
    assert(entries == Seq("a_form.csv", "b_form.csv")) // sorted, no subdir
    val zipPath = dir.resolve(s"${dir.getFileName}.zip")
    val bytes1 = Files.readAllBytes(zipPath)

    def readZip(p: java.nio.file.Path): Seq[(String, String)] = {
      val zin = new ZipInputStream(Files.newInputStream(p))
      try Iterator.continually(zin.getNextEntry).takeWhile(_ != null).map { e =>
        val bos = new ByteArrayOutputStream(); zin.transferTo(bos)
        e.getName -> new String(bos.toByteArray, UTF_8)
      }.toList finally zin.close()
    }
    assert(readZip(zipPath) == Seq(
      "a_form.csv" -> "KEY\nuuid:2\n", "b_form.csv" -> "KEY,v\nuuid:1,2\n"))

    // re-run: the previous archive is skipped, output is byte-identical
    assert(Connectors.zipFormDir(dir.toString) == entries)
    assert(Files.readAllBytes(zipPath).sameElements(bytes1))
  }

  test("transport seam: connector logic runs against any HttpTransport") {
    // a deployment-supplied fake — proves no JDK-client coupling
    val canned = new HttpTransport {
      def get(url: String, headers: Map[String, String]): Array[Byte] =
        zipOf("f.csv" -> "KEY\nuuid:2\n")
      def post(url: String, body: Array[Byte], headers: Map[String, String]): Array[Byte] =
        Array[Byte]()
    }
    val landing = graft.core.TempDirs.scratch("graft_fake").toString
    val manifest = Connectors.fetchOdkExport(canned, "http://unused", "t", 1, "f", landing)
    assert(manifest == Seq("f.csv"))
    val t = Connectors.odkFormTable(spark, landing, "f",
      StructType(Seq(StructField("KEY", StringType))))
    assert(t.count() == 1)
  }
}
