package wlbench

import org.apache.spark.sql.functions.col

import graft.core.Caches
import graft.dql.{DqlArtifacts, TestdataStore}
import graft.pipeline.{Dedup, Similarity}

/** `curate_batch`: one closed-loop client running whole curation passes
  * over a fixed-size corpus. A pass is the eight DQL pipeline steps, then
  * one band-index and one IVF refresh with the same fixed-size delta,
  * each re-probed. Artifacts a pass creates are released before the next.
  */
final class Curate(runner: Runner) {
  import runner._
  private val cur = plan.obj("curate")
  private val corpusDir = cur.str("corpus_dir")
  private val store = new TestdataStore(corpusDir)
  private val steps = cur.objs("steps").map(s => (s.str("name"), s.str("dql")))
  private val corpusDocs = cur.long("corpus_docs")
  private val nowMs = 1706745600000L
  private lazy val deltaDocs = spark.read.parquet(cur.str("delta_docs"))
  private lazy val deltaVecs = spark.read.parquet(cur.str("delta_vecs"))
  private lazy val queries =
    store.table(spark, "embeddings").where(col("vec_id") < cur.long("sim_queries"))
  // refresh ledger keys are `<RefreshKey>#<n>`: evictArtifacts(RefreshKey)
  // then releases exactly the refreshed artifacts, never the base ones
  private val RefreshKey = "wlbench-refresh"
  private var refreshSeq = 0

  private def refresh(p: Int): Unit = {
    refreshSeq += 1
    val id = s"$RefreshKey#$refreshSeq"
    op("band_refresh", p) { opId =>
      val idx = rec.span("artifacts.refresh", opId)(
        DqlArtifacts.bandRefresh(spark, store, id, deltaDocs))
      force(Dedup.minhashPairsFromIndex(idx, 0.5))
    }
    op("ivf_refresh", p) { opId =>
      val (cells, cents) = rec.span("artifacts.refresh", opId)(
        DqlArtifacts.ivfRefresh(spark, store, id, deltaVecs))
      force(Similarity.ivfTopKProbedOn(cells, cents, queries, 10,
        nProbe = DqlArtifacts.nCells(spark, store)))
    }
  }

  private def runSteps(p: Int): Unit =
    steps.foreach { case (name, q) =>
      dqlOp(name, p, store, q, nowMs)
      Caches.releaseTransient(spark, blocking = true)
    }

  private def pass(p: Int): Unit = {
    runSteps(p)
    refresh(p)
    // memory must not grow with the pass count
    Caches.evictArtifacts(spark, RefreshKey)
    Caches.releaseTransient(spark, blocking = true)
  }

  /** Cold builds of the corpus artifacts the steps read. */
  private def buildArtifacts(): Map[String, Any] = {
    val t0 = Clock.ms
    val (_, _, built) = Caches.traceArtifacts {
      DqlArtifacts.bandIndex(spark, store).count()
      val nc = DqlArtifacts.nCells(spark, store)
      val (cells, cents) = DqlArtifacts.ivfIndex(spark, store, nc)
      cells.count(); cents.count()
    }
    Map("build_ms" -> (Clock.ms - t0), "builds" -> built.size)
  }

  private def storageMb: Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  def run(): Map[String, Any] = {
    var build: Map[String, Any] = Map.empty
    // set-up: cold builds of the corpus artifacts the steps read
    val setupS = setup { _ =>
      Caches.evictArtifacts(spark, corpusDir)
      Caches.releaseTransient(spark, blocking = true)
      build = buildArtifacts()
    }
    mark("setup")
    val warm = warmup(pass, setupReps)
    mark("warmup")
    val h = new Health.Window(spark)
    val (passes, walls) = timed(pass, setupReps + warmupPasses)
    val healthRow = h.close()
    mark("timed")
    val storage = storageMb
    val heap = Health.liveHeapMb
    // output checks, outside the timed window: each refreshed artifact
    // must equal a full rebuild over base + delta
    val refreshed = DqlArtifacts.bandRefresh(spark, store, "check", deltaDocs)
    val rebuilt = Dedup.bandIndex(store.table(spark, "documents")
      .select("doc_id", "text").unionByName(deltaDocs.select("doc_id", "text")))
    val bandOk = refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty
    val (cells, cents) = DqlArtifacts.ivfRefresh(spark, store, "check", deltaVecs)
    val probed = Similarity.ivfTopKProbedOn(cells, cents, queries, 10,
      nProbe = DqlArtifacts.nCells(spark, store))
    val brute = Similarity.bruteTopK(
      store.table(spark, "embeddings").select("vec_id", "embedding")
        .unionByName(deltaVecs.select("vec_id", "embedding")), queries, 10)
    val ivfOk = probed.exceptAll(brute).isEmpty && brute.exceptAll(probed).isEmpty
    mark("checks")
    Map("setup_reps_s" -> setupS, "warmup_pass_median_ms" -> warm,
      "window" -> Map("passes" -> passes, "pass_wall_ms" -> walls),
      "corpus_docs" -> corpusDocs,
      "health" -> healthRow, "live_heap_mb" -> heap,
      "artifacts" -> (build ++ Map("storage_mb" -> storage)),
      "checks" -> Map(
        "band_refresh_equals_rebuild" -> bandOk,
        "ivf_refresh_equals_brute" -> ivfOk))
  }
}
