package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference ETL pipeline re-expressed Spark-first:
  * extract (DSv2 paged source) → transform (column expressions) →
  * validate (filter + observe + quarantine) → load (last-wins upsert).
  *
  * Reference lifecycle: etl_connector.py:206-239 (main loop). Where the
  * reference streams one dict at a time through Python, here every
  * stage is a declarative plan over a distributed DataFrame — the 20-doc
  * sink buffer (R17) becomes partition-level writes, the per-row upsert
  * (R18) becomes a snapshot merge keyed like `replace_one(upsert=True)`.
  */
object Pipeline {

  /** Typed shape of the fields the reference touches inside a pulse
    * (FIXTURES.md §1.2; etl_connector.py:148-162). Everything else
    * stays in the untyped `raw` JSON string. */
  val pulseSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("indicator_count", LongType),
    StructField("pulse_info", StructType(Seq(
      StructField("name", StringType),
      StructField("id", LongType),
      StructField("created", StringType),
      StructField("modified", StringType))))))

  /** Extract (R4): read fixture pages through the DSv2 source. */
  def extract(spark: SparkSession, fixtureDir: String, cfg: EtlConfig): DataFrame =
    spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtureDir)
      .option("perPage", cfg.perPage)
      .option("maxPages", cfg.maxPages)
      .option("maxRetries", cfg.maxRetries)
      .option("retryBackoffMs", cfg.backoffMs)
      .load()

  /** Transform (R12–R15, etl_connector.py:130-164): constant metadata
    * columns, event-time ingestion timestamp, empty-string→null city,
    * nested-field hoist from pulse_info, COALESCE key derivation, and
    * the full raw payload kept verbatim. Pure column expressions —
    * whole-stage codegen, no UDF. */
  def transform(raw: DataFrame, cfg: EtlConfig): DataFrame = {
    val parsed = raw.withColumn("p", from_json(col("raw_json"), pulseSchema))
    parsed.select(
      current_timestamp().as("ingestion_timestamp"),              // R12 :138
      lit(cfg.connectorName).as("connector_name"),                // R12 :139
      lit("otx").as("source"),                                    // R12 :140
      lit(cfg.baseUrl).as("source_base_url"),                     // R12 :141
      cfg.city.filter(_.nonEmpty)                                 // R12 :142
        .map(c => lit(c)).getOrElse(lit(null).cast(StringType)).as("source_city"),
      col("raw_json").as("raw"),                                  // R12 :143 keep-raw
      col("p.pulse_info.name").as("pulse_name"),                  // R13 :150
      coalesce(col("p.pulse_info.id"), col("p.id")).as("pulse_id"), // R14 :156-158
      col("p.pulse_info.created").as("pulse_created"),            // R13 :153
      col("p.pulse_info.modified").as("pulse_modified"),          // R13 :154
      col("p.indicator_count").as("indicator_count"),             // R15 :160-162
      col("page").as("source_page"), // provenance: arrival order for last-wins ties
      // intra-page position (final last-wins tiebreak; streams built
      // outside the paged source may not carry it)
      (if (raw.columns.contains("item")) col("item") else lit(0)).as("source_item"))
  }

  /** Validation predicate (R16, etl_connector.py:194-203): required
    * fields present AND the payload parses as a JSON object — the
    * analog of the reference's per-doc required-field check. Without
    * the parse term the gate is vacuous in real runs (ingestion ts is
    * current_timestamp() and raw comes from a non-null source column),
    * so malformed payloads would sail through as keyless rows.
    * Detection goes through a corrupt-record probe: PERMISSIVE
    * from_json yields an all-NULL row (not NULL) for bad records since
    * Spark 3.3, so only the corrupt column tells parse failure from a
    * legitimately empty object. */
  def isValid: Column = {
    val probeSchema = pulseSchema.add(StructField("_corrupt", StringType))
    val parsed = from_json(col("raw"), probeSchema,
      Map("columnNameOfCorruptRecord" -> "_corrupt"))
    col("ingestion_timestamp").isNotNull && col("raw").isNotNull &&
      parsed.getField("_corrupt").isNull
  }

  /** Validate (R16): split valid/quarantine instead of silently
    * dropping — the reference logs a warning per dropped doc
    * (etl_connector.py:221-223); here dropped rows land in a
    * quarantine DataFrame and valid-row counts surface via observe()
    * metrics (R20 analog of the processed-count log). */
  def validate(df: DataFrame): (DataFrame, DataFrame) = {
    val valid = df.filter(isValid)
      .observe("etl", count(lit(1)).as("valid_rows"))
    val quarantine = df.filter(!isValid)
    (valid, quarantine)
  }

  /** Last-write-wins batch-internal dedup (R18 semantics: the last
    * write for a key replaces earlier ones; keyless rows all append,
    * R19). Orders by (ingestion_timestamp, page) — the reference's
    * arrival order within a run. */
  def lastWins(df: DataFrame, key: String, orderCols: Seq[Column]): DataFrame =
    keepFirst(df.filter(col(key).isNotNull), Seq(col(key)), orderCols)
      .unionByName(df.filter(col(key).isNull))

  /** The top row of each `partitionCols` group by `orderCols` descending. */
  private def keepFirst(df: DataFrame, partitionCols: Seq[Column],
                        orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The snapshot merge both upserts share: one row per key over
    * `existing ∪ batch`. Batch rows beat stored ones; within the batch
    * the later arrival wins — (ingestion ts, page, item), the
    * reference's page-then-item loop (without the item, two same-key
    * docs in one page tie and the survivor depends on shuffle order).
    * One window ordered by (generation, arrival…) picks the survivor a
    * batch-level dedup followed by the merge would. Keyless rows pass
    * through (R19). `clusterBy` names a function of the key (the
    * bucket) for the one shuffle to hash instead: the survivors are the
    * same, and a write partitioned by it gets one task, hence one file,
    * per value. */
  private def mergeLastWins(existing: Option[DataFrame], batch: DataFrame, key: String,
                            clusterBy: Option[String] = None): DataFrame = {
    val arrival = col("ingestion_timestamp") +:
      Seq("source_page", "source_item").filter(batch.columns.contains(_)).map(col)
    val stamped = batch.withColumn("__gen", lit(1))
    val all = existing.fold(stamped)(_.withColumn("__gen", lit(0)).unionByName(stamped))
    val order = col("__gen") +: arrival
    (clusterBy match {
      case Some(c) => keepFirst(all.repartition(col(c)), Seq(col(c), col(key)), order)
      case None => lastWins(all, key, order)
    }).drop("__gen")
  }

  /** Load (R17–R19, etl_connector.py:167-191): key-based upsert into a
    * parquet snapshot, emulating `replace_one({key: id}, doc,
    * upsert=True)` without a MERGE-capable table format:
    * read current snapshot → union with batch (batch wins) → keep one
    * row per key → write to a temp dir → atomic swap. Keyed rows are
    * idempotent (re-upserting the same batch changes nothing); keyless
    * rows append on every run — faithful to the reference's R19 insert
    * path (etl_connector.py:184-191, `insert_one` with no key).
    *
    * Scale: the snapshot rewrite is the no-Delta fallback; the merge
    * itself is one hash shuffle on the key. On a real deployment this
    * slot is a Delta/Iceberg MERGE — same logical semantics. */
  def upsert(spark: SparkSession, batch: DataFrame, snapshotDir: String,
             key: String = "pulse_id", maxRecordsPerFile: Int = 0): Unit = {
    val fs = new java.io.File(snapshotDir)
    val existing =
      if (fs.exists() && fs.listFiles() != null && fs.listFiles().nonEmpty)
        Some(spark.read.parquet(snapshotDir))
      else None
    val merged = mergeLastWins(existing, batch, key)
    val tmp = snapshotDir + ".tmp-" + java.util.UUID.randomUUID().toString
    // R17's sink batch size, Spark-shaped: the reference flushes every
    // `batchSize` docs per bulk write (etl_connector.py:206,229); the
    // parquet analog bounds rows per output file.
    val writer = merged.write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
       writer.option("maxRecordsPerFile", maxRecordsPerFile.toLong)
     else writer).parquet(tmp)
    // swap via checked renames (SURVEY §7: write temp + rename). A
    // failed rename must surface, not silently strand the new snapshot
    // in tmp; true crash-atomicity needs a manifest/table format
    // (Delta/Iceberg MERGE is the production slot for this sink).
    val old = new java.io.File(snapshotDir + ".old-" + java.util.UUID.randomUUID())
    if (fs.exists() && !fs.renameTo(old))
      throw new java.io.IOException(s"upsert swap: could not move $fs aside")
    if (!new java.io.File(tmp).renameTo(fs)) {
      old.renameTo(fs) // best-effort rollback of the first rename
      throw new java.io.IOException(
        s"upsert swap: could not move $tmp into place (same filesystem required)")
    }
    deleteRecursively(old)
  }

  private def deleteRecursively(f: java.io.File): Unit =
    graft.core.Fs.deleteRecursively(f)

  /** Manifest for the incremental snapshot layout: bucket count and
    * key are FIXED at snapshot creation (a different bucket count
    * would route keys to different directories and silently duplicate
    * them). Stored as one tiny JSON file, written via temp + atomic
    * rename. */
  private case class SnapshotManifest(numBuckets: Int, key: String)

  private def manifestFile(snapshotDir: String) =
    new java.io.File(snapshotDir, "_MANIFEST.json")

  private def readManifest(snapshotDir: String): Option[SnapshotManifest] = {
    val f = manifestFile(snapshotDir)
    if (!f.exists()) None
    else {
      // two int/string fields — a regex parse keeps the format honest
      // without a JSON dependency in the hot path
      val s = java.nio.file.Files.readString(f.toPath)
      val nb = """"numBuckets"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
      val k = """"key"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s).map(_.group(1))
      for (n <- nb; kk <- k) yield SnapshotManifest(n, kk)
    }
  }

  private def writeManifest(snapshotDir: String, m: SnapshotManifest): Unit = {
    val f = manifestFile(snapshotDir)
    val tmp = java.nio.file.Files.createTempFile(
      f.getParentFile.toPath, "_MANIFEST", ".tmp")
    java.nio.file.Files.writeString(tmp,
      s"""{"numBuckets": ${m.numBuckets}, "key": "${m.key}"}""")
    java.nio.file.Files.move(tmp, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Incremental key-upsert: O(touched keys), not O(snapshot).
    *
    * [[upsert]] rewrites the ENTIRE snapshot every batch — correct,
    * but at 100 TB a 1k-row batch would rewrite terabytes. This form
    * hash-partitions the snapshot into `numBuckets` directories
    * (`bucket=<p>`, p = xxhash64(key) mod numBuckets) with a manifest
    * pinning the layout, and a batch rewrites ONLY the buckets its
    * keys land in: cost is proportional to the touched fraction of
    * the snapshot. Untouched bucket directories are never opened —
    * their files stay byte-identical (the spec asserts this).
    *
    * Semantics are identical to [[upsert]] (last-write-wins per key,
    * R18; keyless rows append every run, R19 — they land in the
    * reserved `bucket=-1` directory via append-mode writes, never
    * rewritten). Reading the whole snapshot back:
    * [[readIncrementalSnapshot]] (plain parquet read + drop the
    * layout column).
    *
    * Cost per batch: the batch is routed once (bucket -1 for a null
    * key) and persisted; one job collects its distinct buckets, which
    * plans both the keyless append and the touched keyed buckets. The
    * merge is then one shuffle of the touched buckets' stored rows and
    * the batch, clustered on `bucket`, with one window over it (the
    * same merge [[upsert]] runs): each touched bucket is merged and
    * written by one task, so it holds one parquet file (more only
    * under `maxRecordsPerFile`).
    *
    * The per-bucket swap is checked-rename, like [[upsert]]: a crash
    * mid-swap can leave SOME buckets on the new batch and others on
    * the old — the documented gap a transactional format
    * (Delta/Iceberg MERGE) closes; this is the no-dependency fallback
    * with the same directory-granular write pattern those formats use
    * underneath. A crash between a bucket's two renames leaves its
    * live rows in `.old-<p>-*`; the next call fails fast on that
    * marker rather than merging the batch into an empty bucket. */
  def upsertIncremental(spark: SparkSession, batch: DataFrame, snapshotDir: String,
                        key: String = "pulse_id", numBuckets: Int = 32,
                        maxRecordsPerFile: Int = 0): Unit = {
    require(numBuckets >= 1, s"numBuckets ($numBuckets) must be >= 1")
    val root = new java.io.File(snapshotDir)
    requireNoSwapLeftovers(root, "upsertIncremental")
    root.mkdirs()
    val manifest = readManifest(snapshotDir) match {
      case Some(m) =>
        require(m.key == key && m.numBuckets == numBuckets,
          s"snapshot $snapshotDir was created with (numBuckets=${m.numBuckets}, " +
            s"key=${m.key}); re-upserting with ($numBuckets, $key) would split " +
            "keys across incompatible layouts — recreate the snapshot to re-bucket")
        m
      case None =>
        require(Option(root.list()).forall(_.isEmpty),
          s"$snapshotDir exists without a manifest — refusing to mix the " +
            "incremental layout into a snapshot written by the full-rewrite upsert")
        val m = SnapshotManifest(numBuckets, key)
        writeManifest(snapshotDir, m); m
    }
    // persisted: the bucket plan, the keyless append and the merge
    // write are separate jobs, and all MUST see the same batch rows —
    // an unpersisted nondeterministic batch (e.g. rand-derived keys)
    // could route rows to buckets the plan never saw
    val routed = batch
      .withColumn("bucket", when(col(key).isNull, lit(-1)).otherwise(
        pmod(xxhash64(col(key)), lit(manifest.numBuckets.toLong)).cast("int")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the bucket list is O(numBuckets) scalars on the driver — the
      // same cardinality a table format's file-pruning pass collects
      val buckets = routed.select("bucket").distinct()
        .collect().map(_.getInt(0)).sorted
      // keyless rows (R19): append-only — new immutable files into the
      // reserved bucket, no read-modify-write of anything
      if (buckets.contains(-1))
        routed.filter(col("bucket") === -1).drop("bucket")
          .write.mode("append").parquet(s"$snapshotDir/bucket=-1")
      val touched = buckets.filter(_ >= 0)
      if (touched.isEmpty) return
      val existingDirs = touched.map(p => new java.io.File(root, s"bucket=$p"))
        .filter(d => d.exists() && Option(d.listFiles()).exists(_.nonEmpty))
        .map(_.getAbsolutePath)
      // basePath keeps the bucket partition column on the selective read
      val existing =
        if (existingDirs.isEmpty) None
        else Some(spark.read.option("basePath", snapshotDir)
          .parquet(existingDirs.toIndexedSeq: _*))
      val merged = mergeLastWins(existing, routed.filter(col("bucket") >= 0), key,
        clusterBy = Some("bucket"))
      val tmp = snapshotDir + ".tmp-" + java.util.UUID.randomUUID().toString
      val writer = merged.write.mode("overwrite").partitionBy("bucket")
      (if (maxRecordsPerFile > 0)
         writer.option("maxRecordsPerFile", maxRecordsPerFile.toLong)
       else writer).parquet(tmp)
      // the swap list is what was ACTUALLY written — and it must equal
      // `touched` exactly, verified BEFORE any rename. A written bucket
      // outside `touched` was never merged with its live data (swapping
      // it in would drop live rows; skipping it would drop batch rows),
      // and a touched bucket with no output dir means the rewrite saw
      // different rows than the plan — either way the batch recomputed
      // nondeterministically and no swap is safe.
      val written = Option(new java.io.File(tmp).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(_.getName.stripPrefix("bucket=").toInt).sorted
      if (!java.util.Arrays.equals(written, touched)) {
        deleteRecursively(new java.io.File(tmp))
        throw new IllegalStateException(
          s"upsertIncremental: written buckets [${written.mkString(",")}] != " +
            s"planned buckets [${touched.mkString(",")}] — the batch recomputed " +
            "nondeterministically between the plan and the write; snapshot left " +
            "untouched. Materialize the batch (cache/checkpoint) before upserting.")
      }
      // swap ONLY the touched bucket directories; `written == touched`
      // guarantees newDir exists for every p, so a missing dir can no
      // longer strand the live data in the .old graveyard
      touched.foreach { p =>
        val newDir = new java.io.File(tmp, s"bucket=$p")
        val liveDir = new java.io.File(root, s"bucket=$p")
        val old = new java.io.File(root, s".old-$p-" + java.util.UUID.randomUUID())
        if (liveDir.exists() && !liveDir.renameTo(old))
          throw new java.io.IOException(s"upsertIncremental: could not move $liveDir aside")
        if (!newDir.renameTo(liveDir)) {
          if (old.exists() && !old.renameTo(liveDir))
            throw new java.io.IOException(
              s"upsertIncremental: bucket=$p swap failed AND rollback failed — " +
                s"live data is at $old")
          throw new java.io.IOException(
            s"upsertIncremental: could not move $newDir into place (same filesystem required)")
        }
        deleteRecursively(old)
      }
      deleteRecursively(new java.io.File(tmp))
    } finally { routed.unpersist(); () }
  }

  /** Read back a snapshot written by [[upsertIncremental]]: standard
    * partition discovery over the bucket directories, layout column
    * dropped — same schema the full-rewrite [[upsert]] snapshot has. */
  def readIncrementalSnapshot(spark: SparkSession, snapshotDir: String): DataFrame =
    spark.read.parquet(snapshotDir).drop("bucket")

  /** Fail fast on leftovers from an interrupted bucket swap: a bucket
    * whose live rows sit in `.old-<p>-*` reads as absent (dot-directories
    * are skipped), so writing over that layout would silently drop or
    * resurrect rows. Recovery is one rename/delete away; both writers
    * are idempotent after it. */
  private def requireNoSwapLeftovers(root: java.io.File, op: String): Unit = {
    val stray = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith(".old-") || f.getName.startsWith(".new-"))
    require(stray.isEmpty,
      s"$op: $root holds leftover swap markers " +
        s"[${stray.map(_.getName).mkString(", ")}] from an interrupted run — " +
        "recover first (restore .old-<p> if bucket=<p> is absent, else delete " +
        "the leftovers), then re-run")
  }

  /** Subject-deletion EXECUTION over an incremental snapshot — the
    * audit-then-act completion of
    * [[graft.operators.Governance.purgeAudit]]: delete every row whose
    * snapshot key is in `ids`, rewriting ONLY the buckets those ids
    * hash to. The audit's counts predict this rewrite exactly
    * (purged == the audit's n_matched on the same snapshot+ids; the
    * spec asserts it), which is what makes the report a safe gate for
    * the destructive step.
    *
    * Shape: the deletion list is request-sized (thousands), so its
    * bucket set collects as O(numBuckets) driver scalars and the list
    * itself broadcasts into ONE left-anti join over a SELECTIVE read
    * of just the touched bucket directories — at 100 TB a 1k-subject
    * request opens ≤ numBuckets directories and rewrites only those,
    * never the snapshot. Untouched bucket files stay byte-identical
    * (same checked-rename swap as [[upsertIncremental]]); the keyless
    * `bucket=-1` directory is never touched — a NULL key matches no
    * deletion id by SQL equality, and the audit counts it the same
    * way. A bucket whose every row purges swaps to ABSENT (directory
    * removed), the same state it had before its first upsert.
    *
    * CRASH / CONCURRENCY CONTRACT (local-FS rename swap — on an
    * object store the swap is a manifest pointer flip instead):
    * single writer only — a concurrent [[upsertIncremental]] or
    * second purge racing the directory swap is NOT supported (the
    * same discipline every rename-based committer has). The swap is
    * two-phase: every rewritten bucket is first STAGED into the
    * snapshot root as `.new-<p>-*` (a failure before any live rename
    * rolls back completely — live bytes untouched), then each bucket
    * swaps live→`.old-<p>-*`→delete. A crash inside the swap window
    * leaves the bucket's pre-purge rows in `.old-<p>-*` and/or its
    * post-purge rows in `.new-<p>-*` — nothing is lost; recovery is
    * mechanical (restore `.old` if `bucket=<p>` is absent, else
    * delete the leftovers) and the next call FAILS FAST on the
    * leftover markers rather than purging over an ambiguous layout.
    * Re-running the same purge after recovery is idempotent: already-
    * purged keys match no rows.
    *
    * @param ids one-column frame of subject keys to delete; cast to
    *            the snapshot key's type so bucket routing hashes the
    *            value the stored rows hashed
    * @return (nBefore, nPurged) over the touched buckets — untouched
    *         buckets contribute to neither (they were proven
    *         untouchable by the hash routing, not scanned). */
  def purgeApply(spark: SparkSession, snapshotDir: String,
                 ids: DataFrame): (Long, Long) = {
    require(ids.columns.length == 1,
      s"ids must be a one-column frame, got ${ids.columns.toSeq}")
    val manifest = readManifest(snapshotDir).getOrElse(throw new IllegalArgumentException(
      s"$snapshotDir has no manifest — purgeApply operates only on " +
        "upsertIncremental snapshots (the bucket layout IS the pruning index)"))
    val root = new java.io.File(snapshotDir)
    requireNoSwapLeftovers(root, "purgeApply")
    val keyType = spark.read.parquet(snapshotDir).schema(manifest.key).dataType
    // persisted: the bucket plan and the anti-join must see the SAME id
    // set (the upsertIncremental nondeterminism discipline)
    val keyIds = ids.select(col(ids.columns.head).cast(keyType).as("__k"))
      .filter(col("__k").isNotNull).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = keyIds
        .select(pmod(xxhash64(col("__k")), lit(manifest.numBuckets.toLong))
          .cast("int").as("bucket"))
        .distinct().collect().map(_.getInt(0)).sorted
      val existingDirs = touched.map(p => new java.io.File(root, s"bucket=$p"))
        .filter(d => d.exists() && Option(d.listFiles()).exists(_.nonEmpty))
      if (existingDirs.isEmpty) return (0L, 0L)
      val planned = existingDirs
        .map(_.getName.stripPrefix("bucket=").toInt).sorted
      val live = spark.read.option("basePath", snapshotDir)
        .parquet(existingDirs.map(_.getAbsolutePath).toIndexedSeq: _*)
      val nBefore = live.count()
      val kept = live.join(broadcast(keyIds),
        col(manifest.key) === col("__k"), "left_anti")
      val tmp = snapshotDir + ".tmp-" + java.util.UUID.randomUUID().toString
      kept.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
      // a fully-purged bucket legitimately writes NO output directory —
      // unlike the upsert (whose written set must EQUAL the plan), the
      // purge invariant is written ⊆ planned: an output bucket outside
      // the plan means the read saw rows the routing said cannot exist
      val written = Option(new java.io.File(tmp).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(_.getName.stripPrefix("bucket=").toInt).sorted
      if (!written.toSet.subsetOf(planned.toSet)) {
        deleteRecursively(new java.io.File(tmp))
        throw new IllegalStateException(
          s"purgeApply: written buckets [${written.mkString(",")}] outside the " +
            s"planned set [${planned.mkString(",")}] — snapshot left untouched.")
      }
      val nAfter =
        if (written.isEmpty) 0L else spark.read.parquet(tmp).count()
      // PHASE 1 — stage every rewritten bucket into the snapshot root
      // (same FS as the live dirs): any failure here rolls back fully
      // with the live bytes never touched
      val staged = scala.collection.mutable.Map.empty[Int, java.io.File]
      try {
        written.foreach { p =>
          val src = new java.io.File(tmp, s"bucket=$p")
          val dst = new java.io.File(root, s".new-$p-" + java.util.UUID.randomUUID())
          if (!src.renameTo(dst))
            throw new java.io.IOException(
              s"purgeApply: could not stage $src into $root (same filesystem required)")
          staged(p) = dst
        }
      } catch {
        case e: Throwable =>
          staged.values.foreach(deleteRecursively)
          deleteRecursively(new java.io.File(tmp))
          throw e
      }
      // PHASE 2 — per-bucket swap: live moves aside, staged moves in,
      // aside deletes last. A crash inside one bucket's window leaves
      // its rows recoverable in .old-/.new- (see the scaladoc contract)
      planned.foreach { p =>
        val liveDir = new java.io.File(root, s"bucket=$p")
        val old = new java.io.File(root, s".old-$p-" + java.util.UUID.randomUUID())
        if (!liveDir.renameTo(old))
          throw new java.io.IOException(s"purgeApply: could not move $liveDir aside")
        staged.get(p).foreach { newDir =>
          if (!newDir.renameTo(liveDir)) {
            if (!old.renameTo(liveDir))
              throw new java.io.IOException(
                s"purgeApply: bucket=$p swap failed AND rollback failed — live data is at $old")
            throw new java.io.IOException(
              s"purgeApply: could not move $newDir into place")
          }
        }
        deleteRecursively(old)
      }
      deleteRecursively(new java.io.File(tmp))
      (nBefore, nBefore - nAfter)
    } finally { keyIds.unpersist(); () }
  }

  /** Full run (reference main(), etl_connector.py:206-239): extract →
    * transform → validate → upsert. Returns (validCount, quarantineCount).
    * The TRANSFORMED frame is what gets cached: both the quarantine
    * count and the upsert read it, so the source (with its retries and
    * JSON parsing) is scanned once, not once per consumer. */
  def run(spark: SparkSession, fixtureDir: String, snapshotDir: String,
          cfg: EtlConfig): (Long, Long) = {
    val t = transform(extract(spark, fixtureDir, cfg), cfg).cache()
    try {
      val (valid, quarantine) = validate(t)
      val q = quarantine.count()
      upsert(spark, valid, snapshotDir, maxRecordsPerFile = cfg.batchSize)
      (valid.count(), q)
    } finally { t.unpersist(); () }
  }
}
