package graft.serving

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import graft.streaming.{AtomicSwap, BucketedStore, StoreFs}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** In-memory copies of a [[BucketedStore]]'s committed bucket generations
  * — the reference's per-partition MemStore serving role
  * (api/.../storage/MemStore.java, KVStoreLocal.apply:303-321) over the
  * AtomicSwap-committed bucket dirs.
  *
  * [[current]] costs ONE metadata read per bucket, the generation check:
  *   - manifest protocol: the bucket's pointer file (a pointer only ever
  *     names an immutable generation dir);
  *   - rename protocol: the bucket dir's data-file listing (Spark part-file
  *     names carry a per-write UUID, so every commit lists differently).
  *
  * A generation not seen before is loaded with one Spark read of exactly
  * its files and held as an immutable value. A read of a held generation
  * never touches files, so a commit that deletes the generation a request
  * is using cannot fail that request. A load that races a commit (a listed
  * file deleted under it) resolves the generation again and retries on
  * the new one; a load failure on an unchanged generation is a real error
  * and propagates. A generation above `maxRows` rows is held WITHOUT
  * content (the caller serves it by a Spark scan), so an over-bound bucket
  * is collected once per generation, not once per request. `build` may
  * decline a generation the same way (None).
  *
  * Writers are untouched: the commit protocol's own pointer flip or
  * rename is the invalidation signal. */
private[serving] final class BucketGenerations[A](
    spark: SparkSession,
    root: String,
    fs: StoreFs,
    maxRows: Int)(build: (StructType, Array[Row]) => Option[A]) {

  /** One committed generation of one bucket: its identity (the dir it
    * resolved to and, under the rename protocol, that dir's data files)
    * and its content — None when served by a scan. */
  final class Gen(val identity: (String, Seq[String]), val content: Option[A]) {
    def dir: String = identity._1
  }

  private val held = new ConcurrentHashMap[Int, Gen]()

  /** Spark's own hidden-file rule: `_SUCCESS`, `.crc` and friends are not
    * data. */
  private def dataFiles(dir: String): Seq[String] =
    fs.listNames(dir).filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted

  /** (dir, listing) naming the bucket's committed generation; the listing
    * is empty under the manifest protocol, where the pointer alone is the
    * identity. None when the bucket has never been committed. */
  private def identify(bucket: String): Option[(String, Seq[String])] =
    if (!fs.atomicRename) fs.readString(s"$bucket.ptr").map(t => (t.trim, Nil))
    else {
      val files = dataFiles(bucket)
      if (files.nonEmpty) Some((bucket, files))
      // between-renames crash window: AtomicSwap serves the backup in place
      else AtomicSwap.resolve(bucket, fs).map(d => (d, dataFiles(d)))
    }

  /** Bucket `id`'s committed generation, loaded if not seen before. None
    * when the bucket has never been committed (or its data is gone). */
  def current(id: Int): Option[Gen] =
    current(BucketedStore.bucketDir(root, id), id, BucketGenerations.LoadAttempts)

  private def current(bucket: String, id: Int, attempts: Int): Option[Gen] =
    identify(bucket).flatMap { identity =>
      val gen = held.get(id)
      if (gen != null && gen.identity == identity) Some(gen)
      else {
        val (dir, listing) = identity
        // a commit may delete this generation between the check and the load
        def replaced = attempts > 1 && !identify(bucket).contains(identity)
        val files = if (listing.nonEmpty) listing else dataFiles(dir)
        val loaded =
          try if (files.isEmpty) None else Some(new Gen(identity, load(dir, files)))
          catch { case NonFatal(_) if replaced => None }
        loaded match {
          case Some(g) =>
            held.put(id, g)
            loaded
          case None if replaced => current(bucket, id, attempts - 1)
          case None => None // a pointer whose data is gone: no readable generation
        }
      }
    }

  private def load(dir: String, files: Seq[String]): Option[A] = {
    val df = spark.read.parquet(files.map(f => s"$dir/$f"): _*)
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows) None else build(df.schema, rows)
  }
}

private[serving] object BucketGenerations {

  /** Loads of one request that may meet a commit before it gives up: a
    * commit every load would otherwise retry forever. */
  val LoadAttempts = 4
}
