package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Layout
import graft.perfbench.Engine
import graft.etl.{EtlConfig, Pipeline}
import graft.operators.{AnnIndex, Dedup, Similarity, TextAnalysis}
import graft.sources.PagedJsonSource

/** What one pass did. `docs` were processed in `docsSeconds` of the pass;
  * `batches` holds the latency of each client batch call (poll batches for
  * etl_ingest, probe batches for corpus_index); `calls` counts the library
  * calls the client made. */
final case class PassOut(seconds: Double, docs: Long, docsSeconds: Double, batches: Seq[Double],
                         calls: Int, extra: Map[String, Double])

/** A workload drives the library's public functions over its generated
  * inputs, one whole pass per `pass` call. */
trait Workload {
  def pass(spark: SparkSession, tr: Tracer, dir: File): PassOut
  /** The untimed warm-up of set-up: by default one whole pass. */
  def warmup(spark: SparkSession, tr: Tracer, dir: File): Unit = pass(spark, tr, dir)
  /** Outputs the checks read, written after the timed passes. */
  def finish(spark: SparkSession, tr: Tracer, out: File): Map[String, Any] = Map.empty
  /** Figures a traced run takes after its passes: ns per row of each native
    * kernel on this workload's own data (and the index's recall). */
  def kernels(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, in: File): Workload = name match {
    case "etl_ingest" => new EtlIngest(in)
    case "corpus_index" => new CorpusIndex(in)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  /** Median of three timed runs of `body`, in ns per row. */
  def nsPerRow(rows: Long)(body: => Unit): Double = {
    val ts = (1 to 3).map { _ => val t0 = System.nanoTime(); body; System.nanoTime() - t0 }
    ts.sorted.apply(1).toDouble / rows
  }
}

/** The reference connector's write path: one bulk-load batch, then small poll
  * batches, each through extract → transform → validate → upsertIncremental
  * into a fresh bucketed snapshot. An untraced batch has the shape of
  * `Pipeline.run` (the transformed frame cached once, read by the
  * quarantine count, the upsert and the valid count); a traced batch also
  * caches and counts the extracted frame, so that extract and transform
  * land on spans of their own. */
final class EtlIngest(in: File) extends Workload {
  private val cfg = EtlConfig(apiKey = "perfbench", maxPages = 100000, maxRetries = 1,
    backoffMs = 0L)
  private val batchDirs = new File(in, "batches").listFiles().filter(_.isDirectory)
    .sortBy(_.getName).toSeq
  private var lastSnapshot: File = _

  // bucket dir -> file name -> size
  private def listing(snap: File): Map[String, Map[String, Long]] =
    Option(snap.listFiles()).getOrElse(Array.empty[File]).filter(_.isDirectory)
      .map(d => d.getName -> Option(d.listFiles()).getOrElse(Array.empty[File])
        .map(f => f.getName -> f.length()).toMap).toMap

  /** One batch as `Pipeline.run` spells it; (valid, quarantined). */
  private def batch(spark: SparkSession, b: File, snap: File): (Long, Long) = {
    val t = Pipeline.transform(Pipeline.extract(spark, b.getPath, cfg), cfg).cache()
    try {
      val (v, q) = Pipeline.validate(t)
      val nq = q.count()
      Pipeline.upsertIncremental(spark, v, snap.getPath)
      (v.count(), nq)
    } finally { t.unpersist() }
  }

  /** One batch split into spans, with the work counts of each layer. */
  private def tracedBatch(spark: SparkSession, tr: Tracer, b: File, snap: File): (Long, Long) =
    tr.span("etl.batch") {
      val raw = tr.span("sources.extract") {
        val r = Pipeline.extract(spark, b.getPath, cfg).cache()
        tr.count("sources.items", r.count().toDouble)
        r
      }
      val t = tr.span("etl.transform") {
        val t = Pipeline.transform(raw, cfg).cache(); t.count(); t
      }
      val (v, nv, nq) = tr.span("etl.validate") {
        val (v, q) = Pipeline.validate(t)
        val nq = q.count()
        tr.count("etl.quarantined", nq.toDouble)
        (v, v.count(), nq)
      }
      val before = listing(snap)
      tr.span("etl.upsert") { Pipeline.upsertIncremental(spark, v, snap.getPath) }
      val after = listing(snap)
      val fresh = after.toSeq.flatMap { case (bucket, files) =>
        files.filter { case (n, _) => !before.getOrElse(bucket, Map.empty).contains(n) }
      }
      tr.count("etl.buckets_touched", after.count { case (k, v) => !before.get(k).contains(v) }.toDouble)
      tr.count("etl.files_written", fresh.size.toDouble)
      tr.count("etl.bytes_rewritten", fresh.map(_._2).sum.toDouble)
      tr.count("sources.pages", PagedJsonSource.pages(b.getPath).size.toDouble)
      t.unpersist(); raw.unpersist()
      (nv, nq)
    }

  /** The bulk load and the first poll: the JIT's first and steepest stretch,
    * into a snapshot of its own. */
  override def warmup(spark: SparkSession, tr: Tracer, dir: File): Unit =
    run(spark, tr, new File(dir, "snapshot"), batchDirs.take(2))

  def pass(spark: SparkSession, tr: Tracer, dir: File): PassOut = {
    val snap = new File(dir, "snapshot")
    val t0 = System.nanoTime()
    val (lat, valid, quarantined) = run(spark, tr, snap, batchDirs)
    val secs = Workload.secondsSince(t0)
    lastSnapshot = snap
    PassOut(secs, valid, secs, lat, calls = batchDirs.size * 4, extra = Map(
      "quarantined" -> quarantined.toDouble,
      "valid" -> valid.toDouble,
      "snapshot_bytes" -> Workload.treeBytes(snap).toDouble))
  }

  /** Batches `bs` in order into `snap`: (poll batch latencies, valid, quarantined). */
  private def run(spark: SparkSession, tr: Tracer, snap: File, bs: Seq[File]): (Seq[Double], Long, Long) = {
    val lat = mutable.ArrayBuffer[Double]()
    var valid, quarantined = 0L
    bs.zipWithIndex.foreach { case (b, i) =>
      val b0 = System.nanoTime()
      val (nv, nq) = if (tr.enabled) tracedBatch(spark, tr, b, snap) else batch(spark, b, snap)
      valid += nv
      quarantined += nq
      if (i > 0) lat += Workload.secondsSince(b0)
    }
    (lat.toSeq, valid, quarantined)
  }

  override def finish(spark: SparkSession, tr: Tracer, out: File): Map[String, Any] =
    Map("snapshot" -> lastSnapshot.getAbsolutePath)
}

/** The x335 corpus-build chain: quality gate → exact dedup → MinHash-LSH
  * pairs → connected components → mixture restore → sequence packing. An
  * untraced pass runs the engine's own chain (`Engine.corpusBuild`); a
  * traced pass spells the same chain out stage by stage so that each stage
  * lands on its own span, and for that also materializes the two stages the
  * engine leaves lazy (the pairs and the restore factors). */
final class CorpusBuild(in: File) extends Workload {
  private val docsPath = new File(in, "documents.parquet").getPath
  private var lastOut: File = _
  private var nDocs = -1L

  def pass(spark: SparkSession, tr: Tracer, dir: File): PassOut = {
    if (nDocs < 0) nDocs = spark.read.parquet(docsPath).count()
    val out = new File(dir, "packed")
    val t0 = System.nanoTime()
    val packed = if (tr.enabled) spelledOut(spark, tr) else Engine.corpusBuild(spark, in.getPath)
    tr.span("text.pack") { packed.write.mode("overwrite").parquet(out.getPath) }
    val secs = Workload.secondsSince(t0)
    Dedup.releaseCaches()
    lastOut = out
    PassOut(secs, nDocs, secs, Nil, calls = 6, extra = Map.empty)
  }

  private def spelledOut(spark: SparkSession, tr: Tracer): DataFrame = {
    val docs = spark.read.parquet(docsPath)
    val gated = tr.span("text.quality_gate") {
      Engine.materializedStage(docs.join(TextAnalysis.qualityGate(docs).filter(col("keep") === 1)
        .select("doc_id"), Seq("doc_id"), "left_semi"))
    }
    val exd = tr.span("dedup.exact") {
      Engine.materializedStage(gated.join(Dedup.exact(gated).select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "left_semi"))
    }
    val pairs = tr.span("dedup.mining") {
      val p = Engine.materializedStage(Dedup.minHashLshPairs(exd, shingleK = 2, numHashes = 16,
        rowsPerBand = 4, minPermille = 600).select("da", "db"))
      tr.count("dedup.pairs", p.count().toDouble)
      p
    }
    val surv = tr.span("graph.cc") {
      Engine.materializedStage(exd.join(Dedup.connectedComponentsUnsorted(pairs)
        .filter(col("cluster_id") < col("doc_id")).select("doc_id"), Seq("doc_id"), "left_anti"))
    }
    val restore = tr.span("dedup.restore") {
      Engine.materializedStage(Dedup.mixtureRestoreFor(gated.select("doc_id", "source"),
        surv.select("doc_id")))
    }
    TextAnalysis.packSequences(surv, budgetTokens = 2048L, numShards = 8)
      .join(surv.select("doc_id", "source"), Seq("doc_id"))
      .join(restore.select("source", "restore_factor_ppm"), Seq("source"))
      .select(col("doc_id"), col("n_tokens"), col("shard"), col("seq_in_shard"),
        col("offset_in_seq"), col("source"), col("restore_factor_ppm"))
      .orderBy("doc_id")
  }

  override def finish(spark: SparkSession, tr: Tracer, out: File): Map[String, Any] = {
    val sql = new File(out, "corpus_build_oracle.sql")
    java.nio.file.Files.writeString(sql.toPath, Engine.corpusBuildOracle)
    Map("packed" -> lastOut.getAbsolutePath, "oracle_sql" -> sql.getAbsolutePath)
  }

  override def kernels(spark: SparkSession): Map[String, Double] = {
    val toks = spark.read.parquet(docsPath)
      .select(split(col("text"), " ").as("toks")).persist(StorageLevel.MEMORY_ONLY)
    val n = toks.count()
    val shs = toks.select(call_function("shingle_hashes", col("toks"), lit(2)).as("shs"))
      .persist(StorageLevel.MEMORY_ONLY)
    shs.count()
    val r = Map(
      "functions.shingle_hashes_ns_per_row" -> Workload.nsPerRow(n) {
        toks.agg(sum(size(call_function("shingle_hashes", col("toks"), lit(2))))).collect()
      },
      "functions.minhash_sigs_ns_per_row" -> Workload.nsPerRow(n) {
        shs.agg(sum(size(call_function("minhash_sigs", col("shs"), lit(16))))).collect()
      })
    toks.unpersist(); shs.unpersist()
    r
  }
}

/** One persisted IVF index: build, then rounds of probe batches → append →
  * delete, then one compaction. */
final class VectorSearch(in: File) extends Workload {
  val k = 10
  val nprobe = 2
  val nlist = 32
  private val corpusPath = new File(in, "corpus.parquet").getPath
  private def roundFile(kind: String, r: Int) = new File(in, f"rounds/$kind$r%02d.parquet").getPath
  private val rounds = new File(in, "rounds").list().count(_.startsWith("a"))
  /** The probe batches of round `r`, one file each, in order. */
  private def queryFiles(r: Int): Seq[String] = new File(in, "rounds").listFiles()
    .filter(_.getName.startsWith(f"q$r%02d_")).map(_.getPath).sorted.toSeq
  private def queries(spark: SparkSession, r: Int): DataFrame = spark.read.parquet(queryFiles(r): _*)
  // (round, query_id, neighbor_id) of the last pass
  private var lastResults = Seq.empty[(Int, Long, Long)]

  def pass(spark: SparkSession, tr: Tracer, dir: File): PassOut = {
    val n = VectorSearch.indexes.incrementAndGet()
    val assign = s"ivf_assign_$n"
    val centers = s"ivf_centers_$n"
    val corpus = spark.read.parquet(corpusPath)
    val probeLat = mutable.ArrayBuffer[Double]()
    val results = mutable.ArrayBuffer[(Int, Long, Long)]()
    var nQueries, scanned = 0L
    val t0 = System.nanoTime()
    tr.span("ann.build") {
      AnnIndex.buildIvfIndex(corpus, assign, centers, nlist = nlist)
    }
    val buildS = Workload.secondsSince(t0)
    for (r <- 0 until rounds) {
      queryFiles(r).foreach { qf =>
        val q = spark.read.parquet(qf)
        val p0 = System.nanoTime()
        val (probe, rows) = tr.span("ann.probe") {
          val p = AnnIndex.ivfTopKPrebuilt(spark, q, assign, centers, k = k, nprobe = nprobe)
            .select("query_id", "neighbor_id")
          (p, p.collect())
        }
        probeLat += Workload.secondsSince(p0)
        if (tr.enabled) scanned += ScanRows(probe, assign)
        nQueries += rows.map(_.getLong(0)).distinct.length
        results ++= rows.map(row => (r, row.getLong(0), row.getLong(1)))
      }
      tr.span("ann.append") {
        AnnIndex.appendToIvfIndex(spark.read.parquet(roundFile("a", r)), assign, centers)
      }
      tr.span("ann.delete") {
        AnnIndex.deleteFromIndex(spark, assign, spark.read.parquet(roundFile("d", r)))
      }
    }
    tr.span("ann.compact") { AnnIndex.compactIvfIndex(spark, assign) }
    val secs = Workload.secondsSince(t0)
    lastResults = results.toSeq
    if (tr.enabled) {
      require(scanned > 0, s"no scan of $assign found in the probe's executed plans")
      tr.count("ann.rows_scanned_per_query", scanned.toDouble / nQueries)
    }
    Layout.dropManagedTable(spark, assign)
    Layout.dropManagedTable(spark, centers)
    PassOut(secs, nQueries, probeLat.sum, probeLat.toSeq, calls = 2 + 2 * rounds + probeLat.size,
      extra = Map(
        "index_build_s" -> buildS,
        "probe_s" -> probeLat.sum,
        "probe_queries" -> nQueries.toDouble))
  }

  /** Writes the last pass's probe results for the checks. */
  override def finish(spark: SparkSession, tr: Tracer, out: File): Map[String, Any] = {
    val csv = new File(out, "vector_results.csv")
    java.nio.file.Files.writeString(csv.toPath, lastResults
      .map { case (r, q, n) => s"$r,$q,$n" }.mkString("round,query_id,neighbor_id\n", "\n", "\n"))
    Map("results" -> csv.getAbsolutePath)
  }

  /** Recall@k of the last pass's first and last rounds against exact
    * `cosineTopKNative` over the live set of that round, and the exact
    * search's time. */
  private def recall(spark: SparkSession): Map[String, Double] = {
    var live = spark.read.parquet(corpusPath)
    var hits, total = 0L
    val e0 = System.nanoTime()
    // the first round (fresh index) and the last (after every append and
    // delete but one) bound the drift; the rounds between cost time only
    for (r <- 0 until rounds) {
      if (r == 0 || r == rounds - 1) {
        val q = queries(spark, r)
        val exact = Similarity.cosineTopKNative(q, live, k).select("query_id", "neighbor_id")
          .collect().map(row => row.getLong(0) -> row.getLong(1)).toSet
        val got = lastResults.filter(_._1 == r).map(x => x._2 -> x._3).toSet
        hits += exact.count(got.contains)
        total += exact.size
      }
      live = live.unionByName(spark.read.parquet(roundFile("a", r)))
        .join(spark.read.parquet(roundFile("d", r)), Seq("vec_id"), "left_anti")
    }
    Map("ann.recall_at_10" -> hits.toDouble / total, "ann.exact_s" -> Workload.secondsSince(e0))
  }

  override def kernels(spark: SparkSession): Map[String, Double] = recall(spark) ++ {
    val c = spark.read.parquet(corpusPath).select(col("vec_id").as("nid"),
      col("embedding").as("b"), col("embedding").cast("array<double>").as("bd"))
      .persist(StorageLevel.MEMORY_ONLY)
    val q = queries(spark, 0).select(col("vec_id").as("qid"),
      col("embedding").as("a"), col("embedding").cast("array<double>").as("ad"))
      .persist(StorageLevel.MEMORY_ONLY)
    val rows = c.count() * q.count()
    val pairs = c.crossJoin(broadcast(q))
    def agg(e: org.apache.spark.sql.Column): Unit = pairs.agg(sum(e)).collect()
    // the higher-order-function cosine is 20-40x slower per row than the
    // native kernels: scored against two queries, not all, to keep a traced
    // run within its time limit
    val hofPairs = c.crossJoin(broadcast(q.orderBy("qid").limit(2)))
    val r = Map(
      "functions.cosine_f32_ns_per_row" -> Workload.nsPerRow(rows) {
        agg(call_function("cosine_f32", col("a"), col("b")))
      },
      "functions.cosine_hof_ns_per_row" -> Workload.nsPerRow(rows / q.count() * 2) {
        hofPairs.agg(sum(Similarity.cosine(col("ad"), col("bd")))).collect()
      },
      "functions.l2sq_f64_ns_per_row" -> Workload.nsPerRow(rows) {
        agg(call_function("l2sq_f64", col("ad"), col("bd")))
      },
      "functions.topk_pairs_ns_per_row" -> Workload.nsPerRow(rows) {
        // a cheap arithmetic score, so the time is the top-k fold's own
        pairs.groupBy("qid").agg(call_function("topk_pairs", col("nid"),
          pmod(col("nid") * 2654435761L, lit(1000003L)).cast("double"), lit(k)).as("t"))
          .agg(sum(size(col("t")))).collect()
      })
    c.unpersist(); q.unpersist()
    r
  }
}

object VectorSearch {
  /** Indexes built in this JVM, so that each gets tables of its own. */
  val indexes = new java.util.concurrent.atomic.AtomicInteger()
}

/** The operator workload: the corpus-build chain over the seeded documents,
  * then the IVF index lifecycle over the seeded vectors, in one pass on one
  * session. Docs per second count the corpus documents; batches are the
  * probe batches. */
final class CorpusIndex(in: File) extends Workload {
  private val corpus = new CorpusBuild(in)
  private val vectors = new VectorSearch(in)

  /** One pass over the small input the generator writes to `warm/`: the
    * same calls on the same code paths as a timed pass, at a fraction of
    * the cold cost. */
  override def warmup(spark: SparkSession, tr: Tracer, dir: File): Unit =
    new CorpusIndex(new File(in, "warm")).pass(spark, tr, dir)

  def pass(spark: SparkSession, tr: Tracer, dir: File): PassOut = {
    val c = corpus.pass(spark, tr, dir)
    val v = vectors.pass(spark, tr, dir)
    PassOut(c.seconds + v.seconds, c.docs, c.seconds, v.batches, c.calls + v.calls,
      c.extra ++ v.extra)
  }

  override def finish(spark: SparkSession, tr: Tracer, out: File): Map[String, Any] =
    corpus.finish(spark, tr, out) ++ vectors.finish(spark, tr, out)

  override def kernels(spark: SparkSession): Map[String, Double] =
    corpus.kernels(spark) ++ vectors.kernels(spark)
}
