package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** Session-scoped cache governance for pipeline builders.
  *
  * Two cache lifetimes exist in this engine:
  *
  *   - SANCTIONED artifacts model materialized storage: the series table
  *     ([[SeriesOps.series]]), the minhash near-dup pair set, the
  *     similarity and near-dup indexes, trained models. Production
  *     queries READ these instead of re-deriving them; their one-off
  *     build cost is storage provisioning, not query time. They live
  *     until [[evictArtifacts]] drops them.
  *   - TRANSIENT pins are builder intermediates (shingle tables, candidate
  *     pair sets, ANN cell assignments) persisted because one query's plan
  *     consumes them several times. They are registered here at build time
  *     and released en masse with [[releaseTransient]] — after a query in
  *     the bench loop, after verification, or whenever the caller wants
  *     storage back.
  *
  * Every sanctioned artifact is built through an [[ArtifactMemo]], which
  * owns the whole lifecycle:
  *
  *   - KEY: a product carrying the SparkSession and the data dir, e.g.
  *     `(SparkSession, String)` or `(SparkSession, String, Int)`. A key
  *     string `<dir>#<suffix>` is the SUB-CORPUS convention: an artifact
  *     over a subset or derived view of `dir` (a refresh batch, a
  *     base-subset store), evicted with `dir`.
  *   - BUILD: once per key. Every DataFrame in the built value — the value
  *     itself or an element of a tuple — is sanctioned, so
  *     [[releaseTransient]] never drops it, and persisted at
  *     MEMORY_AND_DISK unless it already is: a frame shared with another
  *     artifact is not persisted again, and a build may persist a frame
  *     early when a later step of the same build reads it (an eager job,
  *     or a frame whose cached plan should read it).
  *   - EVICTION: [[evictArtifacts]] drops every entry of every memo whose
  *     key matches (session, dir), unpersisting and unsanctioning the
  *     frames its value carries.
  *   - TRACE: each memo has one label, the `File.scala:line` that
  *     constructs it; [[traceArtifacts]] notes warm reads and cold builds
  *     by that label. One memo per artifact kind: builds nest (an index
  *     built over another memo's index), and one map cannot run a
  *     computeIfAbsent inside its own.
  *
  * Staleness contract: Spark's CacheManager substitutes any cached plan by
  * canonical equality, so a pinned frame SHADOWS recomputation — if the
  * underlying parquet is overwritten mid-session, pinned results serve the
  * old data until released. Callers that rewrite inputs must call
  * [[releaseTransient]] and [[evictArtifacts]] first.
  *
  * Registration is identity-based (Dataset does not override equals).
  */
object Caches {
  private val pinned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[DataFrame]()
  private val sanctionedDfs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[DataFrame]()

  /** Register a persisted frame for deferred release. Lazy — nothing is
    * materialized here; the frame caches on its first action.
    */
  def deferRelease(df: DataFrame): DataFrame = { pinned.add(df); df }

  /** Unpersist ONE deferred pin immediately and drop it from the registry
    * — for builders whose results are fully driver-local before they
    * return (PCA loadings, Lloyd codebooks): their scratch caches must
    * not outlive the call, because CacheManager substitutes by canonical
    * equality and a later scoring scan over the SAME shaped plan (e.g.
    * [[graft.pipeline.Pca.projectK]]'s centered corpus vs the trainer's
    * pinned one) would silently read the warm training cache — which the
    * bench contamination assertion rightly fails as measuring a cache
    * scan. Sanctioned artifacts are never released here.
    */
  def release(df: DataFrame, blocking: Boolean = false): Unit =
    if (!sanctionedDfs.contains(df)) {
      df.unpersist(blocking = blocking)
      pinned.remove(df)
    }

  /** Unpersist every transient pin belonging to `spark`; returns how many
    * were released. Sanctioned artifacts survive.
    *
    * `blocking = true` waits for the block manager to actually drop the
    * blocks before returning. The bench MUST use it: with async release,
    * the eviction RPCs and the freed-memory accounting land during the
    * NEXT timed query — measured in round 4 as a broad 2–4× inflation of
    * whichever family ran after the heavy dedup queries (alphabetically,
    * `dql_*`).
    */
  def releaseTransient(spark: SparkSession, blocking: Boolean = false): Int = {
    var n = 0
    pinned.forEach { df =>
      if ((df.sparkSession eq spark) && !sanctionedDfs.contains(df)) {
        df.unpersist(blocking = blocking)
        pinned.remove(df)
        n += 1
      }
    }
    n
  }

  // -------------------------------------------- artifact memos

  private val artifactMemos =
    new java.util.concurrent.ConcurrentLinkedQueue[ArtifactMemo[_, _]]()

  /** The DataFrames a memo value carries: the value itself, or the
    * elements of a product (e.g. an (index, centroids) pair), recursively.
    */
  private def framesIn(v: Any): Iterator[DataFrame] = v match {
    case df: DataFrame => Iterator.single(df)
    case p: Product => p.productIterator.flatMap(framesIn)
    case _ => Iterator.empty
  }

  // ---- construction-time artifact-read tracing (bench {cold, warm}) --
  //
  // Several gates consume a memoized artifact ENTIRELY at plan
  // construction (eager localCheckpoint, driver-collected model state),
  // so the final plan shows no InMemoryRelation to introspect. The memos
  // are the one common chokepoint: every lookup notes a warm hit or a
  // cold build into a thread-local the bench brackets around each timed
  // construction / warmup step. Zero cost when no trace is active.

  private val traceBuf =
    new ThreadLocal[scala.collection.mutable.LinkedHashSet[(String, String)]]

  private def note(kind: String, label: String): Unit = {
    val b = traceBuf.get()
    if (b != null) { b += ((kind, label)); () }
  }

  /** Run `body` collecting (reads, builds) of memoized artifacts on THIS
    * thread: `reads` are warm memo hits, `builds` are entries the body
    * itself created (it paid for them). Labels are the memos' trace
    * labels (see the class doc), each listed once.
    */
  def traceArtifacts[T](body: => T): (T, Seq[String], Seq[String]) = {
    val b = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    traceBuf.set(b)
    try {
      val r = body
      (r, b.collect { case ("read", l) => l }.toSeq,
        b.collect { case ("build", l) => l }.toSeq)
    } finally traceBuf.remove()
  }

  /** One kind of sanctioned artifact, memoized per key — the lifecycle in
    * the class doc. Construct it once, as a `val` of the owning object.
    */
  final class ArtifactMemo[K, V] {
    private val entries = new java.util.concurrent.ConcurrentHashMap[K, V]()
    private val label = Thread.currentThread.getStackTrace
      .find(f => !f.getClassName.startsWith("java.") &&
        !f.getClassName.startsWith("graft.core.Caches$") &&
        !f.getClassName.startsWith("scala."))
      .map(f => s"${f.getFileName}:${f.getLineNumber}")
      .getOrElse("artifact")
    artifactMemos.add(this)

    /** The artifact for `key`, built by `build` on the first lookup. */
    def apply(key: K)(build: => V): V = {
      // read-vs-build decided by whether the mapping function actually
      // ran — exact even when two threads race on a first access (a
      // pre-check of containsKey would mislabel the loser's warm read
      // as a cold build)
      var built = false
      val v = entries.computeIfAbsent(key, _ => {
        built = true
        val v = build
        framesIn(v).foreach { df =>
          if (df.storageLevel == StorageLevel.NONE)
            df.persist(StorageLevel.MEMORY_AND_DISK)
          sanctionedDfs.add(df)
        }
        v
      })
      note(if (built) "build" else "read", label)
      v
    }

    private[core] def contains(key: K): Boolean = entries.containsKey(key)

    private[Caches] def evict(spark: SparkSession, dir: String): Int = {
      var n = 0
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (scopedTo(e.getKey, spark, dir)) {
          framesIn(e.getValue).foreach { df =>
            sanctionedDfs.remove(df)
            pinned.remove(df)
            df.unpersist(blocking = true)
          }
          it.remove()
          n += 1
        }
      }
      n
    }
  }

  /** Whether a memo key is scoped to (spark, dir): a product with the
    * session as one element and `dir`, or a `dir#suffix` sub-corpus, as
    * another. `dir` + any other continuation ("/data/v1x", "dir/x") is a
    * different corpus.
    */
  private def scopedTo(key: Any, spark: SparkSession, dir: String): Boolean =
    key match {
      case p: Product =>
        p.productIterator.exists(_.asInstanceOf[AnyRef] eq spark) &&
          p.productIterator.exists {
            case s: String => s == dir || s.startsWith(dir + "#")
            case _ => false
          }
      case _ => false
    }

  /** Drop every memo entry scoped to (spark, dir), releasing the
    * persisted frames its value carries. Returns how many entries were
    * evicted. The next consumer rebuilds from current storage.
    *
    * Also invalidates the CacheManager's PLAN-EQUALITY caches whose
    * relations read files under `dir` (`recacheByPath`): without this, a
    * cached frame built over the old contents — not necessarily one a
    * memo knows about — would keep serving stale blocks to any
    * canonically-equal subplan, and the memo rebuild itself could read
    * it, so a refreshed corpus could pair with a stale frozen artifact.
    */
  def evictArtifacts(spark: SparkSession, dir: String): Int = {
    org.apache.spark.sql.GraftBridge.recacheByPath(spark, dir)
    var n = 0
    artifactMemos.forEach(m => n += m.evict(spark, dir))
    n
  }

  /** The cache-builder instances (CacheManager's unit of substitution)
    * behind the sanctioned artifacts of `spark`. Object identity is the
    * comparison key: the CacheManager hands the same builder instance to
    * every plan it substitutes the cached relation into.
    */
  def sanctionedBuilders(spark: SparkSession): Seq[AnyRef] = {
    val out = Seq.newBuilder[AnyRef]
    sanctionedDfs.forEach { df =>
      if (df.sparkSession eq spark)
        out ++= df.queryExecution.withCachedData.collect {
          case r: InMemoryRelation => r.cacheBuilder
        }
    }
    out.result()
  }

  /** Residency pin for the bench: sanctioned artifacts model materialized
    * storage, so a timed consumer must READ them, never rebuild them — but
    * the block manager can partially evict even MEMORY_AND_DISK blocks
    * under churn (measured in round 6: `corpus_decisions` billed a pair-set
    * rebuild, 7 s vs 1.2 s steady). This re-materializes every sanctioned
    * artifact of `spark` whose cached RDD is missing blocks and returns
    * the names it re-forced (empty = all resident); callers run it OUTSIDE
    * the timed region and log any non-empty result.
    */
  def ensureSanctionedResident(spark: SparkSession): Seq[String] = {
    val out = Seq.newBuilder[String]
    sanctionedDfs.forEach { df =>
      if (df.sparkSession eq spark) {
        val builders = df.queryExecution.withCachedData.collect {
          case r: InMemoryRelation => r.cacheBuilder
        }
        val stale = builders.filter { b =>
          !b.isCachedColumnBuffersLoaded || {
            val id = b.cachedColumnBuffers.id
            !spark.sparkContext.getRDDStorageInfo.find(_.id == id)
              .exists(i => i.numCachedPartitions == i.numPartitions)
          }
        }
        if (stale.nonEmpty) {
          df.count() // repopulates only the missing partitions
          // report only the builders that were actually missing blocks —
          // naming fully-resident siblings would misdirect an eviction
          // investigation
          out ++= stale.map(_.cachedName).distinct
        }
      }
    }
    out.result()
  }

  /** The cachedNames of `spark`'s sanctioned artifacts — the bench
    * attributes each name to the warmup step that first materialized it,
    * so the artifact can publish per-artifact COLD (build) seconds next
    * to the WARM (read) seconds of the gates that consume it.
    */
  def sanctionedNames(spark: SparkSession): Seq[String] = {
    val out = Seq.newBuilder[String]
    sanctionedDfs.forEach { df =>
      if (df.sparkSession eq spark)
        out ++= df.queryExecution.withCachedData.collect {
          case r: InMemoryRelation => r.cacheBuilder.cachedName
        }
    }
    out.result().distinct
  }

  /** The sanctioned artifacts `df`'s plan reads warm (by cachedName) —
    * the bench records these per timed gate so memo-backed gates carry
    * their cold-vs-warm split in the artifact.
    */
  def sanctionedReads(df: DataFrame, spark: SparkSession): Seq[String] = {
    val allowed = sanctionedBuilders(spark)
    df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation if allowed.exists(_ eq r.cacheBuilder) =>
        r.cacheBuilder.cachedName
    }.distinct
  }

  /** Builders already MATERIALIZED in `spark`'s CacheManager — the bench
    * snapshots this immediately before constructing a timed plan;
    * contamination is then membership in the snapshot, not "loaded now"
    * (a builder the construction itself filled — Lloyd/PCA training
    * collects run inside the timed compile window — was paid for by the
    * timed run and is not contamination).
    */
  def materializedBuilders(spark: SparkSession): Seq[AnyRef] =
    org.apache.spark.sql.GraftBridge.materializedCacheBuilders(spark)

  /** Measurement-integrity check for the bench: the cached relations in
    * `df`'s plan whose column buffers were ALREADY materialized before
    * the plan was constructed (`preWarm` — a [[materializedBuilders]]
    * snapshot taken pre-construction) and are not in `allowed`. A hit
    * means the timed run would read a warm cache some earlier run
    * populated — the timing would measure a cache scan, not the
    * computation. Pins made (or filled) by `df`'s own construction are
    * fine: the timed run itself paid to fill them.
    */
  def contaminatedRelations(df: DataFrame, allowed: Seq[AnyRef],
                            preWarm: Seq[AnyRef]): Seq[String] =
    df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation
        if preWarm.exists(_ eq r.cacheBuilder) &&
          !allowed.exists(_ eq r.cacheBuilder) =>
        r.cacheBuilder.cachedName
    }
}
