package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The artifact memo: a build persists and sanctions the frames its
  * value carries, and the eviction hook (r14 advisory) must drop — and
  * unpersist — exactly the entries scoped to the refreshed dir, so a
  * regenerated corpus can never pair with a stale frozen artifact.
  */
class CachesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("evictArtifacts drops only the (session, dir) entries, " +
    "unpersisting frames wherever the value carries them") {
    val s = spark
    import s.implicits._
    val cache = new Caches.ArtifactMemo[(SparkSession, String), Any]
    val tupleCache = new Caches.ArtifactMemo[(SparkSession, String, Double), Any]
    val a = Seq(1, 2).toDF("x")
    val b = Seq(3).toDF("y")
    val c = Seq(4).toDF("z")
    cache((s, "/data/v1"))(a)
    cache((s, "/data/KEEP"))(b)
    // value carrying the frame inside a product (index, meta) pair
    tupleCache((s, "/data/v1", 0.5))((c, 42))
    a.count(); b.count(); c.count()
    // SUB-CORPUS keys (`dir#suffix` — a store over a subset/derived
    // view of dir, e.g. the IVF refresh gate's base store) must fall
    // with the dir they derive from; a LONGER dir sharing the prefix
    // must not ("/data/v1x" is a different corpus)
    cache((s, "/data/v1#ivf-append-base"))(7)
    cache((s, "/data/v1x"))(8)
    val n = Caches.evictArtifacts(s, "/data/v1")
    assert(n == 3)
    assert(!cache.contains((s, "/data/v1")))
    assert(!cache.contains((s, "/data/v1#ivf-append-base")))
    assert(cache.contains((s, "/data/v1x")))
    assert(cache.contains((s, "/data/KEEP")))
    assert(!tupleCache.contains((s, "/data/v1", 0.5)))
    assert(a.storageLevel == StorageLevel.NONE)
    assert(c.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // sanctioned frames lose their sanction on eviction: a second pass
    // finds nothing left, and a re-pinned evicted frame is transient
    // again (release drops it) while the surviving artifact is not
    assert(Caches.evictArtifacts(s, "/data/v1") == 0)
    Caches.release(Caches.deferRelease(a.persist()), blocking = true)
    assert(a.storageLevel == StorageLevel.NONE)
    Caches.release(b, blocking = true)
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(Caches.evictArtifacts(s, "/data/KEEP") == 1)
    assert(b.storageLevel == StorageLevel.NONE)
  }

  test("a build persists and sanctions its fresh frames, leaves a frame " +
    "shared with another artifact as it is, and may nest another build") {
    val s = spark
    import s.implicits._
    val dir = "/data/nested"
    val inner = new Caches.ArtifactMemo[(SparkSession, String), DataFrame]
    val outer =
      new Caches.ArtifactMemo[(SparkSession, String), (DataFrame, DataFrame)]
    // the shared frame belongs to another artifact, persisted at a level
    // the memo never uses: a second persist would show as a change
    val shared = Seq(1).toDF("shared").persist(StorageLevel.MEMORY_ONLY)
    val fresh = Seq(2).toDF("fresh")
    val (f, sh) = outer((s, dir)) {
      // another artifact's build nested inside this one must not throw
      (fresh, inner((s, dir))(shared))
    }
    assert((f eq fresh) && (sh eq shared))
    assert(inner((s, dir))(fail("inner artifact rebuilt")) eq shared)
    assert(fresh.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(shared.storageLevel == StorageLevel.MEMORY_ONLY)
    // sanctioned: releaseTransient and release leave the artifact alone
    Caches.releaseTransient(s, blocking = true)
    Caches.release(fresh, blocking = true)
    assert(fresh.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // a warm lookup returns the memoized value without building
    assert(outer((s, dir))(fail("outer artifact rebuilt"))._1 eq fresh)
    val (_, reads, builds) = Caches.traceArtifacts {
      outer((s, dir))(fail("outer artifact rebuilt"))
    }
    assert(reads.size == 1 && builds.isEmpty)
    assert(Caches.evictArtifacts(s, dir) == 2)
    assert(fresh.storageLevel == StorageLevel.NONE)
    assert(shared.storageLevel == StorageLevel.NONE)
  }

  test("end to end: a regenerated corpus dir serves a stale frozen " +
    "artifact until evictArtifacts, rebuilds fresh after") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-evict").toString
    val long1 = (1 to 20).map(i => s"w$i").mkString(" ")
    val long2 = (1 to 20).map(i => s"z$i").mkString(" ")
    def write(texts: Seq[(Long, String)]): Unit =
      texts.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairs() = graft.entry.PipelineQueries
      .queries("dedup_minhash")(s, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // v1 corpus: docs 0 and 1 identical → the near-dup pair (0, 1);
    // the gate memoizes + sanctions the pair set as its artifact
    write(Seq((0L, long1), (1L, long1), (2L, long2)))
    assert(pairs() == Set((0L, 1L)))
    // regenerate: now 1 and 2 are the duplicates. The staleness
    // contract says the frozen artifact MAY keep answering (0, 1)
    // (whether it does depends on which cached blocks survive the
    // overwrite — not pinned here); evictArtifacts is the caller's
    // GUARANTEE of a fresh rebuild:
    write(Seq((0L, long2), (1L, long1), (2L, long1)))
    assert(Caches.evictArtifacts(s, dir) >= 1,
      "the memoized pair artifact must be registered and scoped to dir")
    // no manual cacheManager.clearCache(): evictArtifacts itself
    // invalidates plan-equality caches reading the dir (recacheByPath),
    // so the hook ALONE delivers the documented guarantee (r15 advisory)
    assert(pairs() == Set((1L, 2L)), "expected a fresh rebuild")
    // and the rebuilt artifact was re-memoized: a second evict finds it
    assert(Caches.evictArtifacts(s, dir) >= 1)
  }

  test("eviction predicate vs fuzzed key shapes: exactly the keys with " +
    "a session element and a dir / dir#suffix string element fall") {
    // r17 verdict #6: refresh-invalidation correctness hangs on the
    // `dir#suffix` SUB-CORPUS string convention — any future artifact
    // key that embeds the path differently must not SILENTLY escape
    // eviction. This pins the predicate against generated key shapes:
    //   evicted(key) ⟺ key is a Product with (∃ element eq session) ∧
    //                   (∃ string element s: s == dir ∨ s.startsWith(dir+"#"))
    // so near-miss spellings (dir+"/x", dir+"x", "#"+dir, dir embedded
    // mid-string, dir without a session element, non-product keys) all
    // correctly SURVIVE — an artifact keyed that way is outside the
    // convention and a spec failure here is the loud signal the
    // convention needs extending, not a silent stale pairing.
    val s = spark
    val other = s.newSession()
    val dir = s"/fuzz/corpus-${java.util.UUID.randomUUID().toString.take(8)}"
    val cache = new Caches.ArtifactMemo[Any, Any]
    val rnd = new scala.util.Random(181818L)
    // string pool: matching spellings and near-misses of the convention
    def strings(): String = rnd.nextInt(8) match {
      case 0 => dir
      case 1 => dir + "#" + rnd.alphanumeric.take(4).mkString // sub-corpus
      case 2 => dir + "/" + rnd.alphanumeric.take(4).mkString // child path
      case 3 => dir + rnd.alphanumeric.take(3).mkString       // longer dir
      case 4 => "#" + dir                                     // suffix-side
      case 5 => s"/pre$dir"                                   // embedded
      case 6 => dir.stripSuffix(dir.takeRight(2))             // shorter
      case _ => "/fuzz/other-" + rnd.alphanumeric.take(6).mkString
    }
    def matchingString(x: Any): Boolean = x match {
      case str: String => str == dir || str.startsWith(dir + "#")
      case _ => false
    }
    val keys: Seq[Any] = (0 until 300).map { i =>
      val arity = 1 + rnd.nextInt(4)
      val elems: Seq[Any] = (0 until arity).map { _ =>
        rnd.nextInt(5) match {
          case 0 => s
          case 1 => other
          case 2 => strings()
          case 3 => rnd.nextInt(100): java.lang.Integer
          case _ => rnd.nextDouble(): java.lang.Double
        }
      }
      val key: Any = (rnd.nextInt(6), elems) match {
        case (0, Seq(a)) => a // bare (non-product) key
        case (_, Seq(a)) => Tuple1(a)
        case (_, Seq(a, b)) => (a, b)
        case (_, Seq(a, b, c)) => (a, b, c)
        case (_, es) => (es(0), es(1), es(2), es(3))
      }
      cache(key)(i)
      key
    }.distinct
    val expectEvicted = keys.filter {
      case p: Product =>
        p.productIterator.exists(_.asInstanceOf[AnyRef] eq s) &&
          p.productIterator.exists(matchingString)
      case _ => false // bare keys carry no session scope: never evicted
    }.toSet
    assert(expectEvicted.nonEmpty && expectEvicted.size < keys.size,
      "fuzz must generate both evicted and surviving shapes")
    Caches.evictArtifacts(s, dir)
    val survivors = keys.filter(cache.contains).toSet
    val wronglyKept = expectEvicted.intersect(survivors)
    val wronglyEvicted = keys.toSet.diff(expectEvicted).diff(survivors)
    assert(wronglyKept.isEmpty, s"escaped eviction: $wronglyKept")
    assert(wronglyEvicted.isEmpty, s"over-evicted: $wronglyEvicted")
  }
}
