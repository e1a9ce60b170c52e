package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.functions.TimeCryptoProof
import graft.state.Snapshot
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, Literal}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

/** Minimal HTTP serving layer over the engine's state views — the
  * data-plane of the reference's gateway (core/.../actor/GatewayHttp.scala,
  * Partition.scala:155-192 KeyValueMediator) without the actor system:
  *
  *   - `GET /kv/{key}`              point read from a [[Snapshot]] (J8/P1),
  *     or from a live bucketed store ([[Gateway.BucketedRoute]])
  *   - `GET /index/{t1,t2,…}`       multi-term AND over a live bucketed
  *     secondary index ([[Gateway.IndexRoute]], R5)
  *   - `GET /stats`                 key count (P10 over the snapshot)
  *   - `GET /watch/{key}?from=N`    buffered CDC feed for one key (R7/R8) —
  *     the WebSocket push flattened to poll-the-buffer transport; a
  *     streaming query's `foreachBatch` appends into the [[ChangeFeed]]
  *   - `GET /metrics`               per-route request and error counts and
  *     p50/p99 latency ([[RouteMetrics]])
  *   - optional signed-URL auth: with a salt configured, every request must
  *     carry `?signature=` valid for its PATH within the ±1-minute window
  *     (§2.6h, exactly the reference's TimeCryptoProof gateway check;
  *     clock injectable so specs are deterministic)
  *
  * Scale contract: every route answers from memory the reference's way —
  * its gateway serves each partition's local memstore, not a fact scan.
  * The snapshot route holds a SNAPSHOT-sized (global/dimension) store; the
  * bucketed routes hold each bucket's committed generation, up to
  * [[Snapshot.MaxRows]] rows per bucket, and check it with one metadata
  * read per bucket per request, so a warm read launches no Spark job. A
  * bucket generation above that bound is served by a Spark scan of that
  * generation instead. Fact-table point reads with no bucketed layout
  * belong to `KVTable.get` (predicate pushdown), not a web tier. JDK-only
  * (`com.sun.net.httpserver`), zero new dependencies. */
final class ChangeFeed(keepLastN: Int = 256, maxKeys: Int = 65536) {
  // LinkedHashMap: insertion order backs the key-eviction bound below
  private val buf = mutable.LinkedHashMap.empty[String, mutable.ArrayDeque[(Long, String)]]
  private var seq = 0L

  def append(key: String, valueJson: String): Long = synchronized {
    seq += 1
    val q = buf.getOrElseUpdate(key, mutable.ArrayDeque.empty)
    q.append((seq, valueJson))
    if (q.length > keepLastN) q.removeHead() // R8 keep-last-N bound per key
    // bound the KEY map too — without this, streaming over an unbounded
    // key space grows the buffer map forever; oldest-subscribed key goes
    if (buf.size > maxKeys) buf.remove(buf.head._1)
    seq
  }

  def since(key: String, fromSeq: Long): Seq[(Long, String)] = synchronized {
    buf.get(key).fold(Seq.empty[(Long, String)])(_.filter(_._1 > fromSeq).toSeq)
  }
}

/** Per-route request count, error count (5xx answers) and latency
  * percentiles, served as the Gateway's `GET /metrics`. Latencies are kept
  * in a fixed ring of each route's last [[RouteMetrics.Window]] samples,
  * so memory stays bounded however long the gateway runs; [[record]] holds
  * a route's lock only to store one sample, never across a response, and
  * [[json]] copies the rings under the lock and sorts outside it. Routes
  * not named at construction are not recorded. */
final class RouteMetrics(routes: Seq[String]) {
  import RouteMetrics.Window
  private final class Samples {
    var count = 0L
    var errors = 0L
    val nanos = new Array[Long](Window)
  }
  private val byRoute = routes.map(_ -> new Samples).toMap

  def record(route: String, nanos: Long, error: Boolean): Unit =
    byRoute.get(route).foreach { s =>
      s.synchronized {
        s.nanos((s.count % Window).toInt) = nanos
        s.count += 1
        if (error) s.errors += 1
      }
    }

  /** `{"<route>":{"count":…,"errors":…,"p50_ms":…,"p99_ms":…},…}`, the
    * percentiles nearest-rank over the ring (null before any request). */
  def json(mapper: ObjectMapper): String = {
    val root = mapper.createObjectNode()
    routes.foreach { r =>
      val s = byRoute(r)
      val (count, errors, sorted) = s.synchronized {
        (s.count, s.errors, s.nanos.take(math.min(s.count, Window.toLong).toInt))
      }
      java.util.Arrays.sort(sorted)
      def pct(q: Double): Option[Double] =
        if (sorted.isEmpty) None
        else Some(sorted(math.max(0, math.ceil(q * sorted.length).toInt - 1)) / 1e6)
      val node = root.putObject(r)
      node.put("count", count)
      node.put("errors", errors)
      Seq("p50_ms" -> pct(0.50), "p99_ms" -> pct(0.99)).foreach {
        case (k, Some(v)) => node.put(k, v)
        case (k, None) => node.putNull(k)
      }
    }
    mapper.writeValueAsString(root)
  }
}

object RouteMetrics {

  /** Samples per route behind the percentiles: p99 rests on the slowest
    * ten. */
  val Window = 1024
}

object Gateway {

  // The JDK server flushes the response headers on `sendResponseHeaders`
  // and sends the body as a second small segment; with Nagle's algorithm
  // on, that segment waits for the client's delayed ACK of the first
  // (~40 ms on Linux) on every keep-alive request. The server reads this
  // property once, when the JVM's first HttpServer is created, so it is
  // set here, ahead of `create`, and only when nothing has chosen a value.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  private[serving] def newServer(): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  /** Rows whose `tombstone` column (when present) is false — the
    * changelog semantics both bucketed routes serve: a tombstoned key is a
    * miss (404), same as the snapshot route's compact-then-drop. */
  private def live(df: DataFrame): DataFrame =
    if (df.columns.contains("tombstone")) df.filter(!col("tombstone")) else df

  /** [[live]] over one held bucket generation: key tuple → live row. */
  private def liveByKey(keyCols: Seq[String])(
      schema: StructType, rows: Array[Row]): Option[Map[Seq[Any], Row]] = {
    val keyIdx = keyCols.map(schema.fieldIndex)
    val tomb = Some(schema.fieldNames.indexOf("tombstone")).filter(_ >= 0)
    val alive = tomb.fold(rows.iterator)(t =>
      rows.iterator.filter(r => !r.isNullAt(t) && !r.getBoolean(t)))
    // a compacted store holds one row per key
    Some(alive.map(r => keyIdx.map(r.get) -> r).toMap)
  }

  /** Partition-routed `/kv` backend (r13 verdict #6): the key murmur3-
    * routes DRIVER-SIDE to its one [[graft.streaming.BucketedStore]]
    * bucket and is answered from that bucket's committed generation held
    * in memory ([[BucketGenerations]]) — the reference's partition-routed
    * point read against its local MemStore
    * (core/.../actor/Group.scala:78-82, Murmur2Partitioner), vs the
    * [[Snapshot]] route's driver map over a SMALL store.
    *
    * Scale contract: a request costs one metadata read of its one bucket
    * (the generation check) and, once the bucket is warm, no Spark job; a
    * new generation is loaded once, on the first request that sees it. A
    * bucket generation above `maxRows` rows is served by the 1/N bucket scan
    * ([[graft.streaming.BucketedStore.pointLookup]]) instead, so memory
    * holds at most `maxRows` rows per bucket. Key types come from the
    * store's own schema, so URL segments always coerce to the STORED types
    * (the murmur3 routing contract). `lastScanDirs` stamps the bucket dir
    * the most recent request resolved — GatewaySpec's evidence that a
    * point read touches one bucket, never the table. */
  final class BucketedRoute(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      val keyCols: Seq[String],
      fs: graft.streaming.StoreFs = graft.streaming.LocalFs,
      maxRows: Int = Snapshot.MaxRows) {
    import graft.streaming.BucketedStore
    val keyTypes: Seq[org.apache.spark.sql.types.DataType] =
      BucketedStore.read(spark, root, fs)
        .map(df => keyCols.map(c => df.schema(c).dataType))
        .getOrElse(throw new IllegalArgumentException(
          s"no bucketed table at $root"))
    // fixed at the store's first write: writeBuckets refuses another arity
    private val numBuckets = BucketedStore.numBuckets(root, fs).getOrElse(
      throw new IllegalArgumentException(s"no bucket count at $root"))
    private val generations =
      new BucketGenerations(spark, root, fs, maxRows)(liveByKey(keyCols))
    @volatile var lastScanDirs: Seq[String] = Nil

    def get(values: Seq[Any]): Option[Row] = {
      // a probe of another type would hash to another bucket: fail loudly,
      // as pointLookup does, rather than miss
      values.zip(keyCols.zip(keyTypes)).foreach { case (v, (c, t)) =>
        val probe = Literal(v).dataType
        if (v != null && probe != t) throw new IllegalArgumentException(
          s"probe type mismatch on '$c': probe $probe vs stored $t")
      }
      generations.current(BucketedStore.bucketOf(values, numBuckets)).flatMap { gen =>
        lastScanDirs = Seq(gen.dir)
        gen.content match {
          case Some(byKey) => byKey.get(values)
          case None => BucketedStore.pointLookup(spark, root, keyCols, values, fs)
            .flatMap(df => live(df).collect().headOption)
        }
      }
    }
  }

  /** R5 secondary-index lookup route over the LIVE bucketed index
    * (w35's topology behind HTTP — the reference gateway's index query,
    * KVStoreIndex.scala:20-66): `GET /index/{t1,t2,…}` answers the
    * multi-term AND intersection, ordered by `keyCols` and cut at
    * `maxHits` (a serving tier returns a page, not a table). Tombstoned
    * primary rows never serve.
    *
    * Index buckets share the primary key's bucketing, so bucket i's
    * postings name only keys of table bucket i. A request checks the
    * generation of every table and index bucket (one metadata read each)
    * and, once they are warm, answers from memory with no Spark job: the
    * AND over each index bucket's posting sets, kept where the key is live
    * in the same table bucket, then sorted by Spark's own ordering of the
    * key types. While any bucket generation is above `maxRows` rows (or
    * its postings are not strings, which URL terms cannot match exactly)
    * the request runs the Spark scan instead:
    * [[graft.state.SecondaryIndex.multiLookup]] with the postings pruned
    * to the queried terms before any shuffle. */
  final class IndexRoute(
      spark: org.apache.spark.sql.SparkSession,
      tableRoot: String,
      indexRoot: String,
      keyCols: Seq[String],
      maxHits: Int = 256,
      fs: graft.streaming.StoreFs = graft.streaming.LocalFs,
      maxRows: Int = Snapshot.MaxRows) {
    import graft.streaming.BucketedStore
    private val table =
      new BucketGenerations(spark, tableRoot, fs, maxRows)(liveByKey(keyCols))
    private val index =
      new BucketGenerations(spark, indexRoot, fs, maxRows)(postings)

    /** index term → key tuples of one index bucket. */
    private def postings(schema: StructType, rows: Array[Row])
        : Option[Map[String, Set[Seq[Any]]]] = {
      val term = schema.fieldIndex("index_key")
      val keyIdx = keyCols.map(schema.fieldIndex)
      if (schema(term).dataType != StringType) None
      else Some(rows.toSeq.filterNot(_.isNullAt(term)).groupBy(_.getString(term))
        .map { case (t, rs) => t -> rs.map(r => keyIdx.map(r.get)).toSet })
    }

    // both stores' bucket count, fixed at their first write; read until
    // both stores exist, then never again
    @volatile private var arity: Option[Int] = None
    private def numBuckets: Option[Int] = arity.orElse {
      arity = for {
        t <- BucketedStore.numBuckets(tableRoot, fs)
        i <- BucketedStore.numBuckets(indexRoot, fs)
      } yield {
        require(t == i, s"index $indexRoot has $i buckets but table $tableRoot " +
          s"has $t: an index must share its table's bucketing")
        t
      }
      arity
    }

    def lookup(terms0: Seq[String]): Seq[Row] = {
      val terms = terms0.distinct
      numBuckets match {
        case Some(n) if terms.nonEmpty =>
          val gens = (0 until n).map(b => (table.current(b), index.current(b)))
          if (gens.exists { case (t, i) => (t ++ i).exists(_.content.isEmpty) }) scan(terms)
          else {
            val hits = gens.flatMap {
              case (Some(t), Some(i)) =>
                val byKey = t.content.get
                val sets = terms.map(i.content.get.getOrElse(_, Set.empty[Seq[Any]]))
                sets.minBy(_.size).iterator
                  .filter(k => sets.forall(_.contains(k))).flatMap(byKey.get)
              case _ => Nil
            }
            page(hits)
          }
        case _ => Seq.empty
      }
    }

    /** The first `maxHits` rows in `orderBy(keyCols)` order: keys compared
      * as Catalyst values with Spark's own ascending, nulls-first ordering
      * (byte-wise strings, NaN above every double). */
    private def page(hits: Seq[Row]): Seq[Row] = hits.headOption.fold(hits) { h =>
      val ordering = InterpretedOrdering.forSchema(keyCols.map(h.schema(_).dataType))
      val keyIdx = keyCols.map(h.schema.fieldIndex)
      hits.map(r => InternalRow.fromSeq(keyIdx.map(i =>
          CatalystTypeConverters.convertToCatalyst(r.get(i)))) -> r)
        .sortBy(_._1)(ordering).take(maxHits).map(_._2)
    }

    private def scan(terms: Seq[String]): Seq[Row] =
      (BucketedStore.read(spark, indexRoot, fs),
        BucketedStore.read(spark, tableRoot, fs)) match {
        case (Some(idx), Some(tbl)) =>
          // deterministic pagination: an unordered limit returns an
          // arbitrary page when hits > maxHits; ordering by the primary
          // key costs nothing at page size (r14 verdict #2)
          graft.state.SecondaryIndex
            .multiLookup(idx, live(tbl), keyCols, terms)
            .orderBy(keyCols.map(col): _*)
            .limit(maxHits).collect().toSeq
        case _ => Seq.empty
      }
  }
}

final class Gateway(
    snapshot: Snapshot,
    feed: ChangeFeed = new ChangeFeed(),
    saltHex: Option[String] = None,
    clock: () => Long = () => System.currentTimeMillis() / 1000L,
    bucketed: Option[Gateway.BucketedRoute] = None,
    index: Option[Gateway.IndexRoute] = None) {

  private val mapper = new ObjectMapper
  private val server = Gateway.newServer()
  private val metrics = new RouteMetrics(Seq("kv", "index", "watch", "stats"))

  def port: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val out = ex.getResponseBody
    try out.write(bytes) finally out.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) { q =>
      q.split('&').toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap
    }

  /** The reference's gateway auth: signature valid for the request PATH in
    * the current minute window ± 1 (TimeCryptoProof.verify). */
  private def authorized(ex: HttpExchange): Boolean = saltHex.forall { salt =>
    queryParams(ex).get("signature")
      .exists(sig => TimeCryptoProof.verify(sig, ex.getRequestURI.getPath, salt, clock()))
  }

  private def rowJson(row: org.apache.spark.sql.Row): String = {
    val node = mapper.createObjectNode()
    row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
      row.get(i) match {
        case null => node.putNull(f)
        case l: Long => node.put(f, l)
        case n: Int => node.put(f, n)
        case d: Double => node.put(f, d)
        case b: Boolean => node.put(f, b)
        case other => node.put(f, other.toString)
      }
    }
    mapper.writeValueAsString(node)
  }

  /** Coerce URL path segments (strings) to the route's key types.
    * Returns None when a segment cannot be a value of its key type (or the
    * type is one a URL path cannot address) — the caller answers 404, a
    * miss, never a 500. */
  private def coerceKey(
      segments: Seq[String],
      types: Seq[org.apache.spark.sql.types.DataType]): Option[Seq[Any]] = {
    import org.apache.spark.sql.types._
    try Some(segments.zip(types).map {
      case (s, LongType) => s.toLong
      case (s, IntegerType) => s.toInt
      case (s, ShortType) => s.toShort
      case (s, ByteType) => s.toByte
      case (s, DoubleType) => s.toDouble
      case (s, FloatType) => s.toFloat
      case (s, BooleanType) => s.toBoolean
      case (s, StringType) => s
      case (_, other) =>
        throw new IllegalArgumentException(s"unaddressable key type $other")
    })
    catch { case _: IllegalArgumentException => None } // incl. NumberFormat
  }

  /** Status and body of one request. */
  private def answer(ex: HttpExchange): (Int, String) =
    if (!authorized(ex)) (401, """{"error":"invalid or expired signature"}""")
    else ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toSeq match {
      case Seq("stats") => (200, s"""{"num_keys":${snapshot.size}}""")
      case Seq("metrics") => (200, metrics.json(mapper))
      case "kv" +: key if key.length ==
          bucketed.fold(snapshot.keyCols.length)(_.keyCols.length) =>
        // bucketed route when configured: murmur3-routed read of one
        // bucket of a live BucketedStore table; snapshot route otherwise
        val hit = bucketed match {
          case Some(r) => coerceKey(key, r.keyTypes).flatMap(r.get)
          case None => coerceKey(key, snapshot.keyTypes).flatMap(snapshot.get)
        }
        hit.fold((404, """{"error":"not found"}"""))(row => (200, rowJson(row)))
      case Seq("index", terms) if index.isDefined =>
        val hits = index.get
          .lookup(terms.split(',').toSeq.filter(_.nonEmpty).distinct)
        (200, hits.map(rowJson).mkString("[", ",", "]"))
      case Seq("watch", key) =>
        val from = queryParams(ex).get("from").map(_.toLong).getOrElse(0L)
        val changes = feed.since(key, from)
          .map { case (s, v) => s"""{"seq":$s,"value":$v}""" }
        (200, changes.mkString("[", ",", "]"))
      case _ => (404, """{"error":"unknown route"}""")
    }

  private def handle(ex: HttpExchange): Unit = {
    val start = System.nanoTime()
    val (status, body) =
      try answer(ex)
      catch { case e: Exception => (500, s"""{"error":"${e.getClass.getSimpleName}"}""") }
    try respond(ex, status, body)
    finally {
      val route = ex.getRequestURI.getPath.split("/").find(_.nonEmpty).getOrElse("")
      metrics.record(route, System.nanoTime() - start, error = status >= 500)
    }
  }

  def start(): Gateway = {
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null) // current thread of the default dispatcher
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)
}
