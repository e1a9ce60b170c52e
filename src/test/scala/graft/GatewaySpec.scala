package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.functions.TimeCryptoProof
import graft.serving.{ChangeFeed, Gateway}
import graft.state.{KVTable, Snapshot}
import org.apache.spark.sql.functions.{lit, split}

/** The HTTP serving layer (reference GatewayHttp's data plane): point
  * reads, stats, CDC watch buffer, signed-URL auth, /metrics, and the
  * bucketed routes' in-memory generations (parity with the Spark scan,
  * zero warm-read jobs, commit visibility and load/commit races under
  * both commit protocols) — driven over REAL loopback HTTP with the JDK
  * client. */
class GatewaySpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()
  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def store = KVTable(
    Seq(
      (1L, "alice", 100L, false),
      (2L, "bob", 100L, false),
      (2L, "robert", 200L, false), // later write wins
      (3L, "carol", 100L, true)) // tombstoned
      .toDF("account", "owner", "ts", "tombstone"),
    Seq("account"), "ts", tombstoneCol = Some("tombstone"))

  it should "serve point reads, misses, and stats from the latest view" in {
    val gw = new Gateway(Snapshot.of(store)).start()
    try {
      val ok = get(s"http://127.0.0.1:${gw.port}/kv/2")
      ok.statusCode() shouldBe 200
      ok.body() should include(""""owner":"robert"""") // compacted: last write
      get(s"http://127.0.0.1:${gw.port}/kv/3").statusCode() shouldBe 404 // tombstoned
      get(s"http://127.0.0.1:${gw.port}/kv/99").statusCode() shouldBe 404
      get(s"http://127.0.0.1:${gw.port}/stats").body() shouldBe """{"num_keys":2}"""
      get(s"http://127.0.0.1:${gw.port}/nope").statusCode() shouldBe 404
    } finally gw.stop()
  }

  it should "enforce signed-URL auth with the ±1-minute window (§2.6h gateway check)" in {
    val salt = "000102030405060708090A0B0C0D0E0F"
    val now = 1704844830L
    val gw = new Gateway(Snapshot.of(store), saltHex = Some(salt), clock = () => now).start()
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      get(s"$base/kv/1").statusCode() shouldBe 401 // unsigned
      val sig = TimeCryptoProof.sign("/kv/1", salt, TimeCryptoProof.wholeMinute(now))
      get(s"$base/kv/1?signature=$sig").statusCode() shouldBe 200
      // previous window still verifies (clock skew tolerance)
      val prev = TimeCryptoProof.sign("/kv/1", salt, TimeCryptoProof.wholeMinute(now) - 60L)
      get(s"$base/kv/1?signature=$prev").statusCode() shouldBe 200
      // two windows back: expired
      val old = TimeCryptoProof.sign("/kv/1", salt, TimeCryptoProof.wholeMinute(now) - 120L)
      get(s"$base/kv/1?signature=$old").statusCode() shouldBe 401
      // a signature never authorizes a DIFFERENT path
      get(s"$base/kv/2?signature=$sig").statusCode() shouldBe 401
    } finally gw.stop()
  }

  it should "push a live streaming query's changes through /watch end-to-end (R7)" in {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val feed = new ChangeFeed()
    val gw = new Gateway(Snapshot.of(store), feed).start()
    // the engine-side subscription (filter to the key) + the transport-side
    // sink (foreachBatch appending to the gateway's buffer) — the full
    // reference KeyValueMediator path: subscribe, then push every change
    val sub = graft.streaming.Subscriptions.subscribe(
      input.toDS().toDF("account", "balance"), "account", "acct7")
    val q = sub.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          feed.append(r.getAs[String]("account"), s"""{"balance":${r.getAs[Long]("balance")}}"""))
      }.start()
    try {
      input.addData(("acct7", 10L), ("other", 99L))
      q.processAllAvailable()
      input.addData(("acct7", 25L))
      q.processAllAvailable()
      val body = get(s"http://127.0.0.1:${gw.port}/watch/acct7").body()
      body should include(""""balance":10""")
      body should include(""""balance":25""")
      body should not include """"balance":99""" // unsubscribed key never pushed
    } finally { q.stop(); gw.stop() }
  }

  it should "serve the buffered per-key change feed with seq cursors (R7/R8)" in {
    val feed = new ChangeFeed(keepLastN = 2)
    val gw = new Gateway(Snapshot.of(store), feed).start()
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      get(s"$base/watch/acct1").body() shouldBe "[]"
      feed.append("acct1", """{"balance":10}""")
      val s2 = feed.append("acct1", """{"balance":20}""")
      feed.append("other", """{"balance":99}""")
      val all = get(s"$base/watch/acct1").body()
      all should include(""""balance":10""")
      all should include(""""balance":20""")
      all should not include """"balance":99""" // key isolation
      // cursor: only changes after seq=s2's predecessor
      get(s"$base/watch/acct1?from=${s2 - 1}").body() shouldBe
        s"""[{"seq":$s2,"value":{"balance":20}}]"""
      // keep-last-N: a third append evicts the first
      feed.append("acct1", """{"balance":30}""")
      get(s"$base/watch/acct1").body() should not include """"balance":10"""
    } finally gw.stop()
  }

  it should "serve /kv through the bucketed route, scanning exactly ONE bucket dir per request (r13 verdict #6)" in {
    import graft.streaming.BucketedStore
    val root = java.nio.file.Files.createTempDirectory("graft-gwb")
      .toFile.getAbsolutePath
    val df = Seq(
      (1L, "alice", false),
      (2L, "robert", false),
      (3L, "carol", true)) // tombstoned key: a 404, same as the snapshot route
      .toDF("account", "owner", "tombstone")
    BucketedStore.writeBuckets(df, BucketedStore.bucketCol(Seq("account"), 4),
      root, Seq(0, 1, 2, 3), 0L, arity = 4)

    val route = new Gateway.BucketedRoute(spark, root, Seq("account"))
    route.keyTypes shouldBe Seq(org.apache.spark.sql.types.LongType) // from the STORE schema
    val gw = new Gateway(Snapshot.of(store), bucketed = Some(route)).start()
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      val ok = get(s"$base/kv/2")
      ok.statusCode() shouldBe 200
      ok.body() should include(""""owner":"robert"""")
      // the bucket dir the request resolved: one, never the table — the
      // reference's partition-routed read cost model (Group.scala:78-82)
      route.lastScanDirs.size shouldBe 1
      new java.io.File(route.lastScanDirs.head).getName should
        fullyMatch regex "b\\d+"
      get(s"$base/kv/3").statusCode() shouldBe 404 // tombstoned
      get(s"$base/kv/99").statusCode() shouldBe 404 // miss
      get(s"$base/kv/not-a-long").statusCode() shouldBe 404 // uncoercible
    } finally gw.stop()
  }

  it should "serve multi-term index lookups from the live bucketed index (R5 over HTTP)" in {
    import graft.streaming.BucketedStore
    val root = java.nio.file.Files.createTempDirectory("graft-gwi")
      .toFile.getAbsolutePath
    val tbl = Seq(
      (1L, "alice etl", false),
      (2L, "bob etl gpu", false),
      (3L, "carol gpu", false),
      (4L, "dan etl gpu", true)) // tombstoned: indexed nowhere served
      .toDF("account", "tags", "tombstone")
    val bexpr = BucketedStore.bucketCol(Seq("account"), 4)
    BucketedStore.writeBuckets(tbl, bexpr, s"$root/t", Seq(0, 1, 2, 3), 0L, 4)
    val idx = graft.state.SecondaryIndex.build(
      tbl.filter(!org.apache.spark.sql.functions.col("tombstone")),
      Seq("account"),
      org.apache.spark.sql.functions.split($"tags", " "))
    BucketedStore.writeBuckets(idx, bexpr, s"$root/i", Seq(0, 1, 2, 3), 0L, 4)

    val route = new Gateway.IndexRoute(spark, s"$root/t", s"$root/i", Seq("account"))
    val gw = new Gateway(Snapshot.of(store), index = Some(route)).start()
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      val both = get(s"$base/index/etl,gpu").body()
      both should include(""""account":2""")
      both should not include """"account":1""" // etl only
      both should not include """"account":3""" // gpu only
      both should not include """"account":4""" // tombstoned
      get(s"$base/index/gpu").body() should include(""""account":3""")
      get(s"$base/index/nope").body() shouldBe "[]"
    } finally gw.stop()
  }

  // ---- bucketed routes over in-memory bucket generations ----

  private val Tags = Seq("etl", "gpu", "ml", "ops")

  /** Accounts 1..40 over 8 buckets: tags from a fixed pattern, every
    * seventh account tombstoned. `owner` carries the generation. */
  private def accounts(gen: String) = (1L to 40L).map { a =>
    val tags = Tags.zipWithIndex.collect { case (t, i) if (a + i) % (i + 2) != 0 => t }
    (a, s"$gen-$a", tags.mkString(" "), a % 7 == 0)
  }.toDF("account", "owner", "tags", "tombstone")

  /** Commit `tbl` and its derived index to every one of 8 buckets. */
  private def commitStore(root: String, tbl: org.apache.spark.sql.DataFrame,
      batchId: Long, fs: graft.streaming.StoreFs): Unit = {
    import graft.streaming.BucketedStore
    val bexpr = BucketedStore.bucketCol(Seq("account"), 8)
    BucketedStore.writeBuckets(tbl, bexpr, s"$root/t", 0 until 8, batchId, 8, fs)
    val idx = graft.state.SecondaryIndex.build(
      tbl.filter(!$"tombstone"), Seq("account"), split($"tags", " "))
    BucketedStore.writeBuckets(idx, bexpr, s"$root/i", 0 until 8, batchId, 8, fs)
  }

  private def tempRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def bucketedGateway(root: String, maxRows: Int = Snapshot.MaxRows,
      fs: graft.streaming.StoreFs = graft.streaming.LocalFs): Gateway =
    new Gateway(Snapshot.of(store),
      bucketed = Some(new Gateway.BucketedRoute(spark, s"$root/t", Seq("account"),
        fs, maxRows)),
      index = Some(new Gateway.IndexRoute(spark, s"$root/t", s"$root/i",
        Seq("account"), maxHits = 5, fs, maxRows))).start()

  private val termQueries = Seq("etl", "gpu", "ml,ops", "etl,gpu", "etl,gpu,ml",
    "gpu,gpu", "etl,nope", "nope")

  /** Jobs Spark starts while `body` runs: every job start the listener
    * sees before a marked sentinel job, which the bus delivers in order. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sentinel = "gateway-spec-sentinel"
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel))
          done.countDown()
        else if (done.getCount > 0) seen.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobGroup(sentinel, sentinel)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      done.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      seen.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  it should "answer 50 keep-alive requests on one connection without the Nagle/delayed-ACK stall" in {
    val http11 = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val gw = new Gateway(Snapshot.of(store)).start()
    try {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${gw.port}/kv/2")).build()
      http11.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() shouldBe 200
      val ms = (1 to 50).map { _ =>
        val t0 = System.nanoTime()
        http11.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() shouldBe 200
        (System.nanoTime() - t0) / 1e6
      }.sorted
      // a stalled response waits for the client's delayed ACK, ~40 ms
      ms(ms.size / 2) should be < 20.0
    } finally gw.stop()
  }

  it should "serve /kv and /index from memory with the same bodies as the Spark scan path" in {
    val root = tempRoot("graft-gwp")
    commitStore(root, accounts("g0"), 0L, graft.streaming.LocalFs)
    val mem = bucketedGateway(root)
    val scan = bucketedGateway(root, maxRows = 0) // every generation over the bound
    try {
      def body(gw: Gateway, path: String) = {
        val r = get(s"http://127.0.0.1:${gw.port}$path")
        (r.statusCode(), r.body())
      }
      val paths = (0L to 45L).map(k => s"/kv/$k") ++ termQueries.map(q => s"/index/$q")
      paths.foreach(p => withClue(p)(body(mem, p) shouldBe body(scan, p)))
      // the cases the comparison must cover
      body(mem, "/kv/3")._1 shouldBe 200
      body(mem, "/kv/7")._1 shouldBe 404 // tombstoned
      body(mem, "/kv/45")._1 shouldBe 404 // never written
      val etl = body(mem, "/index/etl")._2
      etl.split("\\},\\{").length shouldBe 5 // page cut at maxHits
      etl should not include """"account":7,""" // tombstoned
      body(mem, "/index/etl,gpu,ml")._2 should not be "[]"
      body(mem, "/index/etl,nope")._2 shouldBe "[]"
    } finally { mem.stop(); scan.stop() }
  }

  it should "launch no Spark job across 20 warm bucketed reads" in {
    val root = tempRoot("graft-gwj")
    commitStore(root, accounts("g0"), 0L, graft.streaming.LocalFs)
    val gw = bucketedGateway(root)
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      val paths = (1 to 10).map(k => s"$base/kv/$k") ++
        (1 to 10).map(i => s"$base/index/${termQueries(i % termQueries.size)}")
      paths.foreach(get) // loads every generation these reads need
      jobsDuring(paths.foreach(p => get(p).statusCode() should (be(200) or be(404)))) shouldBe 0
    } finally gw.stop()
  }

  for ((name, fs) <- Seq("rename" -> graft.streaming.LocalFs,
      "manifest" -> graft.streaming.ObjectStoreSimFs)) {
    it should s"serve a newly committed generation on the next read ($name protocol)" in {
      val root = tempRoot(s"graft-gwf-$name")
      commitStore(root, accounts("g0"), 0L, fs)
      val gw = bucketedGateway(root, fs = fs)
      try {
        val base = s"http://127.0.0.1:${gw.port}"
        get(s"$base/kv/2").body() should include(""""owner":"g0-2"""")
        get(s"$base/index/etl").body() should include(""""owner":"g0-""")
        // the next generation retags every account and revives account 7
        commitStore(root, accounts("g1").withColumn("tombstone", $"account" === 2L)
          .withColumn("tags", lit("new")), 1L, fs)
        get(s"$base/kv/2").statusCode() shouldBe 404 // now tombstoned
        get(s"$base/kv/7").body() should include(""""owner":"g1-7"""")
        get(s"$base/index/etl").body() shouldBe "[]"
        get(s"$base/index/new").body() should include(""""owner":"g1-1"""")
      } finally gw.stop()
    }

    it should s"retry a load whose generation a commit deleted under it ($name protocol)" in {
      val root = tempRoot(s"graft-gwr-$name")
      commitStore(root, accounts("g0"), 0L, fs)
      // a store whose next generation check of a bucket commits a new
      // generation right after it answers: the load then finds the
      // generation it was told about deleted
      val racing = new RacingFs(fs, () => commitStore(root, accounts("g1"), 1L, fs))
      val route = new Gateway.BucketedRoute(spark, s"$root/t", Seq("account"), racing)
      racing.armed = true
      route.get(Seq(2L)).map(_.getAs[String]("owner")) shouldBe Some("g1-2")
      racing.armed shouldBe false // the race did happen
    }
  }

  it should "report per-route counts, errors and latency percentiles on /metrics" in {
    val feed = new ChangeFeed()
    val gw = new Gateway(Snapshot.of(store), feed).start()
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      get(s"$base/metrics").body() should include(
        """"kv":{"count":0,"errors":0,"p50_ms":null,"p99_ms":null}""")
      (1 to 3).foreach(_ => get(s"$base/kv/2"))
      get(s"$base/kv/99").statusCode() shouldBe 404 // a miss is not an error
      get(s"$base/watch/acct1?from=x").statusCode() shouldBe 500
      get(s"$base/stats")
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(get(s"$base/metrics").body())
      m.get("kv").get("count").asLong() shouldBe 4
      m.get("kv").get("errors").asLong() shouldBe 0
      m.get("watch").get("errors").asLong() shouldBe 1
      m.get("stats").get("count").asLong() shouldBe 1
      m.get("index").get("count").asLong() shouldBe 0
      val (p50, p99) = (m.get("kv").get("p50_ms").asDouble(), m.get("kv").get("p99_ms").asDouble())
      p50 should be > 0.0
      p99 should be >= p50
    } finally gw.stop()
  }
}

/** A [[graft.streaming.StoreFs]] that, once `armed`, runs `commit` right
  * after answering its next bucket generation check (a bucket-dir listing
  * or a pointer read) — a commit landing between a reader's check and its
  * load, made deterministic. */
final class RacingFs(fs: graft.streaming.StoreFs, commit: () => Unit)
    extends graft.streaming.StoreFs {
  @volatile var armed = false
  private def fire[A](hit: Boolean)(a: A): A = {
    if (armed && hit) { armed = false; commit() }
    a
  }
  override def atomicRename: Boolean = fs.atomicRename
  override def listNames(dir: String): Seq[String] =
    fire(dir.matches(".*/b\\d+"))(fs.listNames(dir))
  override def readString(path: String): Option[String] =
    fire(path.endsWith(".ptr"))(fs.readString(path))
  override def exists(path: String): Boolean = fs.exists(path)
  override def isDir(path: String): Boolean = fs.isDir(path)
  override def rename(src: String, dst: String): Boolean = fs.rename(src, dst)
  override def deleteRecursively(path: String): Unit = fs.deleteRecursively(path)
  override def mkdirs(path: String): Unit = fs.mkdirs(path)
  override def writeString(path: String, content: String): Unit =
    fs.writeString(path, content)
}
