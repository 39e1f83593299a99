package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one parquet read path, and its schema catalog.
  *
  * Every table is read with its schema given. A bare
  * `spark.read.parquet(path)` runs a schema-inference Spark job while the
  * DataFrame is still being built, so a DQL query over it paid one job
  * before it ran. Here the schema comes from one of two places, the way a
  * metastore holds it:
  *
  *   - a DECLARATION, for the tables graft writes: [[Layout.Schema]] for
  *     the dt-partitioned series table, passed to [[read]];
  *   - the CATALOG, for the generated testdata tables (TESTDATA.md:
  *     one parquet file per table under a scale-factor directory) and any
  *     other file graft reads but does not write: one inference per file
  *     identity, memoized ([[schema]]).
  *
  * Catalog KEY: (session, path, modification time, length, the session's
  * nanos setting [[SeriesOps.nanosAsLong]]). For a directory the time and
  * length are the newest modification time and the total length of the
  * files under it. A rewrite of the path changes that identity, so the
  * next read infers again, and an entry with an outdated identity is
  * replaced, not kept beside the new one. The nanos setting decides what
  * an inference yields for a TIMESTAMP(NANOS) `events.ts`, so each of the
  * three encodings [[SeriesOps.tsMillis]] decodes comes out exactly as a
  * fresh inference would give it.
  *
  * INVALIDATION: [[Caches.evictArtifacts]] forgets every entry under its
  * dir ([[forget]]), so a set-up that evicts its corpus pays the cold
  * inference again; the bench drops a session's whole catalog after its
  * warm list ([[forgetAll]]) so its cold runs pay it too.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** embeddings.embedding element count (TESTDATA.md) — the ONE shared
    * constant every sim gate and oracle derives its dimension from
    * (r15 advisory: a literal 64 in one oracle family risked silent
    * drift against the gates' shared constant)
    */
  val EmbeddingDim: Int = 64

  /** table `name` under the directory `dir` (a testdata scale factor, or
    * a staged copy of one), under its catalog schema
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    read(spark, path, schema(spark, path))
  }

  /** the parquet table at `path` under a declared `schema`; partition
    * columns named in it (`dt`) are still discovered from the directory
    * names and pruned
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** (session, path, nanos setting) → (identity, inferred schema) */
  private val catalog = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Boolean), ((Long, Long), StructType)]()

  /** The schema a fresh inference gives for `path`, inferred once per
    * file identity (class doc). A missing path is inferred every time, so
    * it fails with Spark's own error.
    */
  def schema(spark: SparkSession, path: String): StructType =
    identity(spark, path) match {
      case None => spark.read.parquet(path).schema
      case Some(id) =>
        catalog.compute((spark, path, SeriesOps.nanosAsLong(spark)),
          (_, held) =>
            if (held != null && held._1 == id) held
            else (id, spark.read.parquet(path).schema))._2
    }

  /** (modification time, length) of a file, or of the files under a
    * directory; None when nothing is at `path`
    */
  private def identity(spark: SparkSession,
                       path: String): Option[(Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val st = fs.getFileStatus(p)
      if (st.isFile) Some((st.getModificationTime, st.getLen))
      else {
        var t = st.getModificationTime
        var n = 0L
        val files = fs.listFiles(p, true)
        while (files.hasNext) {
          val f = files.next()
          t = math.max(t, f.getModificationTime)
          n += f.getLen
        }
        Some((t, n))
      }
    }
  }

  /** Whether the catalog holds `path` for `spark` under any nanos setting. */
  private[core] def catalogued(spark: SparkSession, path: String): Boolean =
    catalog.keySet.stream.anyMatch(k => (k._1 eq spark) && k._2 == path)

  /** Forget `spark`'s entries for `dir` and every path under it. */
  def forget(spark: SparkSession, dir: String): Unit = {
    val d = dir.stripSuffix("/")
    catalog.keySet.removeIf(k =>
      (k._1 eq spark) && (k._2 == d || k._2.startsWith(d + "/")))
  }

  /** Forget every entry of `spark`. */
  def forgetAll(spark: SparkSession): Unit =
    catalog.keySet.removeIf(_._1 eq spark)
}
