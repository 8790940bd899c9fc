package graft

import java.nio.file.Files
import graft.etl.{EtlConfig, Pipeline}
import graft.sources.PagedJsonSource
import org.apache.spark.sql.functions._

/** End-to-end ETL semantics over the authored JSON page fixtures
  * (FIXTURES.md §1): extract (all envelope shapes) → transform
  * (R12–R15) → validate (R16) → upsert (R17–R19). */
class EtlPipelineSpec extends SparkSpec {

  private val fixtures = getClass.getResource("/pages").getPath
  private val cfg = EtlConfig(apiKey = "test-key", city = Some("Berlin"))

  /** path -> (size, md5) of every file under `root` (the `.parquet`
    * ones by default) — byte-identity fingerprints for the snapshot
    * layout tests. */
  private def fingerprint(root: String, keep: String => Boolean = _.endsWith(".parquet"))
      : Map[String, (Long, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root)).filter(f => keep(f.getName)).map { f =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
      f.getAbsolutePath -> (f.length(), md5)
    }.toMap
  }

  /** bucket directory name -> number of parquet files in it, keyed
    * buckets only (`bucket=-1` is append-only by design). */
  private def parquetFilesPerBucket(snap: String): Map[String, Int] =
    fingerprint(snap).keys.toSeq
      .map(p => new java.io.File(p).getParentFile.getName)
      .filter(_ != "bucket=-1")
      .groupBy(identity).map { case (b, fs) => b -> fs.size }

  test("config: fail-fast on missing api key (R2)") {
    intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("CITY" -> "x"))
    }
  }

  test("config: empty CITY becomes None (R12 empty→null)") {
    val c = EtlConfig.fromEnv(Map("OTX_API_KEY" -> "k", "CITY" -> ""))
    assert(c.city.isEmpty)
  }

  test("config: numeric invariants fail at construction, parse errors name the var") {
    intercept[IllegalArgumentException] { EtlConfig(apiKey = "k", backoffMs = -1L) }
    intercept[IllegalArgumentException] { EtlConfig(apiKey = "k", batchSize = 0) }
    intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("OTX_API_KEY" -> "k", "BACKOFF_MS" -> "-5"))
    }
    val e = intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("OTX_API_KEY" -> "k", "PER_PAGE" -> "abc"))
    }
    assert(e.getMessage.contains("PER_PAGE"))
    // overriding one key keeps the class defaults for the rest
    val c = EtlConfig.fromEnv(Map("OTX_API_KEY" -> "k", "PER_PAGE" -> "7"))
    assert(c.perPage === 7 && c.maxPages === 100 && c.batchSize === 20)
  }

  test("extract reads every envelope shape (R4, R7, R8)") {
    val df = Pipeline.extract(spark, fixtures, cfg)
    // 3 + 2 + 1 + 1 + 0 items across the five fixture pages
    assert(df.count() === 7L)
    assert(df.select("page").distinct().count() === 4L) // empty page yields no rows
  }

  test("limit pushdown caps page partitions only under the full-pages contract (R5)") {
    // default (no contract): limit must return exactly n rows even
    // though fixture pages are partially filled
    val safe = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtures).option("perPage", 3)
      .load().limit(5)
    assert(safe.count() === 5L)
    // with assumeFullPages (the reference's server guarantees full
    // non-final pages) the pushed limit caps planned pages
    val capped = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtures).option("perPage", 3)
      .option("assumeFullPages", "true")
      .load().limit(3)
    assert(capped.queryExecution.executedPlan.toString.contains("PagedJsonScan"))
    assert(capped.count() === 3L) // = page-0's 3 items, 1 page planned
  }

  test("maxPages caps the scan (R5/R11)") {
    val df = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtures).option("maxPages", 1).load()
    assert(df.count() === 3L) // only page-0
  }

  test("maxPages caps by PAGE NUMBER in batch, matching the streaming offset (regression)") {
    // gapped, non-zero-based numbering: pages 5 and 7. The streaming
    // offset admits pages numbered < maxPages; the batch scan must
    // apply the same rule (a count-based take() read the first
    // maxPages FILES, so batch returned page 7 here while streaming
    // never would — the two forms of one source disagreed).
    val dir = Files.createTempDirectory("gapped_pages").toFile
    Files.writeString(new java.io.File(dir, "page-5.json").toPath,
      """{"results": [{"id": "a5", "name": "n5"}]}""")
    Files.writeString(new java.io.File(dir, "page-7.json").toPath,
      """{"results": [{"id": "a7", "name": "n7"}]}""")
    val df = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", dir.getAbsolutePath).option("maxPages", 6).load()
    assert(df.select("page").collect().map(_.getInt(0)).toSeq === Seq(5))
  }

  test("retry with backoff recovers from transient failures (R3)") {
    val df = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtures).option("failFirstN", 2)
      .option("maxRetries", 5).option("retryBackoffMs", 1).load()
    assert(df.count() === 7L)
  }

  test("retry gives up after maxRetries (R3 terminal failure)") {
    val df = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtures).option("failFirstN", 10)
      .option("maxRetries", 2).option("retryBackoffMs", 1).load()
    val e = intercept[Exception] { df.count() }
    assert(e.getMessage.contains("attempts") ||
      Option(e.getCause).exists(_.getMessage.contains("attempts")))
  }

  test("missing path option fails fast (R2)") {
    intercept[Exception] {
      spark.read.format("graft.sources.PagedJsonSource").load().count()
    }
  }

  test("transform hoists nested fields, coalesces keys, keeps raw (R12–R15)") {
    val out = Pipeline.transform(Pipeline.extract(spark, fixtures, cfg), cfg)
    val rows = out.collect()
    assert(rows.length === 7)
    val byName = out.filter(col("pulse_name") === "Pulse One").head()
    assert(byName.getAs[Long]("pulse_id") === 101L)          // pulse_info.id preferred
    assert(byName.getAs[Long]("indicator_count") === 10L)
    assert(byName.getAs[String]("source_city") === "Berlin")
    assert(byName.getAs[String]("raw").contains("\"nested\"")) // raw kept verbatim
    // doc with no pulse_info: falls back to top-level id (R14)
    val fallback = out.filter(col("pulse_id") === 3L).collect()
    assert(fallback.length === 1)
    assert(fallback.head.getAs[String]("pulse_name") === null)
    // keyless doc: null pulse_id (append path, R19)
    assert(out.filter(col("pulse_id").isNull).count() === 1L)
  }

  test("validation splits valid from quarantine (R16)") {
    import spark.implicits._
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "{}"),
      (null.asInstanceOf[java.sql.Timestamp], "{}"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), null.asInstanceOf[String]))
      .toDF("ingestion_timestamp", "raw")
    val (valid, quarantine) = Pipeline.validate(df)
    assert(valid.count() === 1L)
    assert(quarantine.count() === 2L)
  }

  test("upsert: last-write-wins per key, append for keyless, idempotent (R17–R19)") {
    val dir = Files.createTempDirectory("graft-upsert").toFile
    val snap = dir.getAbsolutePath + "/snapshot"
    val batch = Pipeline.transform(Pipeline.extract(spark, fixtures, cfg), cfg).cache()

    Pipeline.upsert(spark, batch, snap)
    val after1 = spark.read.parquet(snap)
    // 7 items, two share pulse_id 106 → 6 survive (5 keyed + 1 keyless)
    assert(after1.count() === 6L)
    assert(after1.filter(col("pulse_id") === 106L).count() === 1L)
    // the later page wins the tie — reference's sequential arrival order
    assert(after1.filter(col("pulse_id") === 106L).head()
      .getAs[String]("pulse_name") === "Pulse Six v2")

    // re-upsert: keyed rows are idempotent (last-wins), the keyless row
    // appends again — faithful to the reference's R19 insert path
    // (etl_connector.py:184-191: no key → insert_one per run)
    Pipeline.upsert(spark, batch, snap)
    val after2 = spark.read.parquet(snap)
    assert(after2.filter(col("pulse_id").isNotNull).count() === 5L)
    assert(after2.filter(col("pulse_id").isNull).count() === 2L)

    // new batch with an updated doc for key 101 replaces it (last wins)
    import spark.implicits._
    val update = Seq((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
      "updated", 101L, """{"id": 1, "v": 2}"""))
      .toDF("ingestion_timestamp", "pulse_name", "pulse_id", "raw")
    val aligned = update.select(
      col("ingestion_timestamp"), lit(cfg.connectorName).as("connector_name"),
      lit("otx").as("source"), lit(cfg.baseUrl).as("source_base_url"),
      lit("Berlin").as("source_city"), col("raw"), col("pulse_name"),
      col("pulse_id"), lit(null).cast("string").as("pulse_created"),
      lit(null).cast("string").as("pulse_modified"),
      lit(null).cast("long").as("indicator_count"),
      lit(99).as("source_page"), lit(0).as("source_item"))
    Pipeline.upsert(spark, aligned, snap)
    val after3 = spark.read.parquet(snap)
    assert(after3.filter(col("pulse_id").isNotNull).count() === 5L)
    assert(after3.filter(col("pulse_id") === 101L).head()
      .getAs[String]("pulse_name") === "updated")
    batch.unpersist()
  }

  test("incremental upsert: only touched buckets rewritten, untouched files byte-identical") {
    import spark.implicits._
    def mkBatch(rows: Seq[(String, Long, String)], ts: String): org.apache.spark.sql.DataFrame =
      rows.toDF("pulse_name", "pulse_id", "raw")
        .withColumn("ingestion_timestamp", lit(java.sql.Timestamp.valueOf(ts)))
    val snap = Files.createTempDirectory("inc_upsert").toFile.getAbsolutePath + "/snap"
    val seed = mkBatch((1L to 40L).map(i => (s"name$i", i, s"""{"id": $i}""")),
      "2024-01-01 00:00:00")
    // with AQE coalescing off the merge runs on 4 shuffle partitions, so a
    // write not clustered on the bucket would leave up to 4 files in each
    // one; clustered, each touched bucket is written by exactly one task
    def upsertUncoalesced(batch: org.apache.spark.sql.DataFrame): Unit = {
      val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
      spark.conf.set(coalesceKey, "false")
      try Pipeline.upsertIncremental(spark, batch, snap, numBuckets = 8)
      finally spark.conf.unset(coalesceKey)
    }
    upsertUncoalesced(seed)
    assert(Pipeline.readIncrementalSnapshot(spark, snap).count() === 40L)
    val seedLayout = parquetFilesPerBucket(snap)
    assert(seedLayout.size === 8 && seedLayout.values.forall(_ == 1), seedLayout)

    def files() = fingerprint(snap)
    val before = files()

    // single-key batch → exactly one bucket rewritten
    val touchedBucket = spark.range(1).select(
      pmod(xxhash64(lit(7L)), lit(8L)).cast("int")).head().getInt(0)
    upsertUncoalesced(
      mkBatch(Seq(("name7-v2", 7L, """{"id": 7, "v": 2}""")), "2025-01-01 00:00:00"))
    val after = files()
    assert(parquetFilesPerBucket(snap) === seedLayout) // still one file per bucket
    val untouchedBefore = before.filter(!_._1.contains(s"bucket=$touchedBucket"))
    val untouchedAfter = after.filter(!_._1.contains(s"bucket=$touchedBucket"))
    // O(touched keys), not O(snapshot): every file outside the touched
    // bucket is the SAME file — same path, same bytes
    assert(untouchedAfter === untouchedBefore)
    assert(after.keySet.filter(_.contains(s"bucket=$touchedBucket")) !=
      before.keySet.filter(_.contains(s"bucket=$touchedBucket")))
    // merge semantics unchanged: last write wins, other keys intact
    val snapNow = Pipeline.readIncrementalSnapshot(spark, snap)
    assert(snapNow.count() === 40L)
    assert(snapNow.filter(col("pulse_id") === 7L).head()
      .getAs[String]("pulse_name") === "name7-v2")
    assert(snapNow.filter(col("pulse_id") === 8L).head()
      .getAs[String]("pulse_name") === "name8")

    // keyless rows append into the reserved bucket, nothing rewritten
    val keyless = Seq(("stray", "{}")).toDF("pulse_name", "raw")
      .withColumn("pulse_id", lit(null).cast("long"))
      .withColumn("ingestion_timestamp",
        lit(java.sql.Timestamp.valueOf("2025-01-02 00:00:00")))
    Pipeline.upsertIncremental(spark, keyless, snap, numBuckets = 8)
    Pipeline.upsertIncremental(spark, keyless, snap, numBuckets = 8)
    val finalSnap = Pipeline.readIncrementalSnapshot(spark, snap)
    assert(finalSnap.filter(col("pulse_id").isNull).count() === 2L) // R19: appends per run
    assert(finalSnap.count() === 42L)
    // keyed files untouched by the keyless-only upserts
    assert(files().filter(!_._1.contains("bucket=-1")) === after)

    // layout is pinned by the manifest — a different bucket count must fail
    val e = intercept[IllegalArgumentException] {
      Pipeline.upsertIncremental(spark, seed, snap, numBuckets = 16)
    }
    assert(e.getMessage.contains("numBuckets"))
  }

  test("purgeApply: audit counts predict the rewrite exactly, untouched buckets byte-identical") {
    import spark.implicits._
    def mkBatch(rows: Seq[(String, Long, String)], ts: String): org.apache.spark.sql.DataFrame =
      rows.toDF("pulse_name", "pulse_id", "raw")
        .withColumn("ingestion_timestamp", lit(java.sql.Timestamp.valueOf(ts)))
    val snap = Files.createTempDirectory("purge_apply").toFile.getAbsolutePath + "/snap"
    Pipeline.upsertIncremental(spark,
      mkBatch((1L to 60L).map(i => (s"name$i", i, s"""{"id": $i}""")),
        "2024-01-01 00:00:00"), snap, numBuckets = 8)
    val keyless = Seq(("stray", "{}")).toDF("pulse_name", "raw")
      .withColumn("pulse_id", lit(null).cast("long"))
      .withColumn("ingestion_timestamp",
        lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
    Pipeline.upsertIncremental(spark, keyless, snap, numBuckets = 8)

    def files() = fingerprint(snap)
    val before = files()
    val ids = Seq(3L, 17L, 42L, 999L).toDF("subject") // 999 absent
    val touchedBuckets = Seq(3L, 17L, 42L, 999L).map { k =>
      spark.range(1).select(pmod(xxhash64(lit(k)), lit(8L)).cast("int"))
        .head().getInt(0)
    }.toSet

    // the audit's prediction on the same snapshot + ids
    val audited = graft.operators.Governance.purgeAudit(
      Seq(("snap", Pipeline.readIncrementalSnapshot(spark, snap), "pulse_id")), ids)
      .as[(String, Long, Long, Long)].head()
    assert(audited._2 === 61L && audited._3 === 3L)

    val (nBefore, nPurged) = Pipeline.purgeApply(spark, snap, ids)
    assert(nPurged === audited._3, "audit must predict the rewrite exactly")
    assert(nBefore <= 61L && nBefore >= nPurged) // only touched buckets scanned
    val after = Pipeline.readIncrementalSnapshot(spark, snap)
    assert(after.count() === 58L)
    assert(after.filter(col("pulse_id").isin(3L, 17L, 42L)).count() === 0L)
    assert(after.filter(col("pulse_id") === 4L).count() === 1L)
    assert(after.filter(col("pulse_id").isNull).count() === 1L) // keyless intact

    // O(touched buckets): every file outside them (incl. bucket=-1) is
    // the SAME file — same path, same bytes
    val untouchedBefore = before.filter { case (p, _) =>
      !touchedBuckets.exists(b => p.contains(s"bucket=$b")) }
    val untouchedAfter = files().filter { case (p, _) =>
      !touchedBuckets.exists(b => p.contains(s"bucket=$b")) }
    assert(untouchedAfter === untouchedBefore)

    // audit-after shows zero residue — the audit/apply pair closes
    val residue = graft.operators.Governance.purgeAudit(
      Seq(("snap", after, "pulse_id")), ids)
      .as[(String, Long, Long, Long)].head()
    assert(residue._3 === 0L)

    // purging every key in one bucket swaps it to ABSENT, and the
    // snapshot still reads (the remaining buckets carry the schema)
    val b0Keys = (1L to 60L).filter { k =>
      spark.range(1).select(pmod(xxhash64(lit(k)), lit(8L)).cast("int"))
        .head().getInt(0) == 0
    }
    val (_, purgedAll) = Pipeline.purgeApply(spark, snap, b0Keys.toDF("subject"))
    assert(!new java.io.File(snap, "bucket=0").exists())
    val finalSnap = Pipeline.readIncrementalSnapshot(spark, snap)
    assert(finalSnap.count() === 58L - purgedAll)

    // refuses a directory without the incremental manifest
    val plain = Files.createTempDirectory("purge_plain").toFile.getAbsolutePath
    val e = intercept[IllegalArgumentException] {
      Pipeline.purgeApply(spark, plain, ids)
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("interrupted bucket swap: upsertIncremental and purgeApply refuse the leftover layout") {
    import spark.implicits._
    val snap = Files.createTempDirectory("swap_leftover").toFile.getAbsolutePath + "/snap"
    val batch = (1L to 20L).map(i => (s"name$i", i, s"""{"id": $i}"""))
      .toDF("pulse_name", "pulse_id", "raw")
      .withColumn("ingestion_timestamp", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    Pipeline.upsertIncremental(spark, batch, snap, numBuckets = 4)
    // a crash between the two renames of one bucket's swap: its live
    // rows moved aside to `.old-<p>-*`, nothing moved into `bucket=<p>`
    val live = new java.io.File(snap).listFiles().filter(_.getName.startsWith("bucket=")).head
    val aside = new java.io.File(snap, ".old-" + live.getName.stripPrefix("bucket=") + "-x")
    assert(live.renameTo(aside))
    val before = fingerprint(snap, _ => true)

    val e1 = intercept[IllegalArgumentException] {
      Pipeline.upsertIncremental(spark, batch, snap, numBuckets = 4)
    }
    assert(e1.getMessage.contains(aside.getName))
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.purgeApply(spark, snap, Seq(1L, 2L).toDF("subject"))
    }
    assert(e2.getMessage.contains(aside.getName))
    assert(fingerprint(snap, _ => true) === before) // not one byte written

    // recovery is one rename; the re-run upsert is then idempotent
    assert(aside.renameTo(live))
    Pipeline.upsertIncremental(spark, batch, snap, numBuckets = 4)
    assert(Pipeline.readIncrementalSnapshot(spark, snap).count() === 20L)
  }

  test("incremental upsert ≡ full-rewrite upsert over one batch sequence (R17–R19)") {
    val dir = Files.createTempDirectory("graft-upsert-diff").toFile
    def pages(name: String, items: Seq[String]*): String = {
      val d = new java.io.File(dir, name); d.mkdirs()
      items.zipWithIndex.foreach { case (its, i) =>
        Files.writeString(new java.io.File(d, s"page-$i.json").toPath,
          its.mkString("""{"results": [""", ",\n", "]}"))
      }
      d.getAbsolutePath
    }
    def pulse(id: Long, name: String): String =
      s"""{"id": 1, "pulse_info": {"name": "$name", "id": $id}}"""
    // cached once, so both upserts see the same rows (ingestion ts is
    // current_timestamp()); repartitioned widely so a nondeterministic
    // same-key tie would actually flip between the two merges
    def load(dir: String) = {
      val b = Pipeline.transform(Pipeline.extract(spark, dir, cfg), cfg).repartition(7).cache()
      b.count(); b
    }
    val b1 = load(pages("b1",
      (100L to 109L).map(k => pulse(k, s"p$k")) ++ Seq(
        pulse(101L, "k101-later"),   // same key, same page: the later item wins
        """{"id": 200}""",           // keyed through the pulse_info.id/id coalesce
        """{"indicator_count": 7}"""), // keyless
      (110L to 119L).map(k => pulse(k, s"p$k")) ++ Seq(
        pulse(105L, "k105-page1"),   // same key, later page wins
        """{"pulse_info": {"name": "stray"}}""")))
    val b2 = load(pages("b2", Seq(
      pulse(100L, "k100-b2"),                                // cross-batch update
      """{"id": 200, "pulse_info": {"name": "k200-b2"}}""", // coalesce-keyed update
      pulse(300L, "k300-first"), pulse(300L, "k300-second"),
      """{"indicator_count": 8}""")))
    val empty = b2.limit(0)

    val full = dir.getAbsolutePath + "/full"
    val inc = dir.getAbsolutePath + "/inc"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
        .collect().map(_.toString).toSeq.sorted
    Seq(b1, b2).foreach { b =>
      Pipeline.upsert(spark, b, full)
      Pipeline.upsertIncremental(spark, b, inc, numBuckets = 8)
      assert(rows(Pipeline.readIncrementalSnapshot(spark, inc)) ===
        rows(spark.read.parquet(full)))
    }
    val incBefore = fingerprint(inc, _ => true)
    Pipeline.upsert(spark, empty, full)
    Pipeline.upsertIncremental(spark, empty, inc, numBuckets = 8)
    assert(fingerprint(inc, _ => true) === incBefore) // the empty batch writes nothing

    val snap = Pipeline.readIncrementalSnapshot(spark, inc)
    assert(rows(snap) === rows(spark.read.parquet(full)))
    assert(snap.count() === 25L) // 22 keys + 3 keyless appends (R19)
    assert(snap.filter(col("pulse_id").isNull).count() === 3L)
    val names = snap.filter(col("pulse_id").isNotNull)
      .select("pulse_id", "pulse_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(names(100L) === "k100-b2" && names(105L) === "k105-page1" &&
      names(200L) === "k200-b2" && names(300L) === "k300-second" && names(101L) === "k101-later" &&
      names(102L) === "p102")
    b1.unpersist(); b2.unpersist()
  }

  test("full pipeline run returns counts (R20)") {
    val dir = Files.createTempDirectory("graft-run").toFile
    val (valid, quarantined) = Pipeline.run(
      spark, fixtures, dir.getAbsolutePath + "/snap", cfg)
    assert(valid === 7L)
    assert(quarantined === 0L)
  }

  test("envelope extraction precedence: results beats pulses beats discovery") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val both = mapper.readTree("""{"pulses": [{"a": 1}], "results": [{"b": 2}, {"b": 3}]}""")
    assert(PagedJsonSource.extractItems(both).size === 2)
    val emptyResults = mapper.readTree("""{"results": [], "pulses": [{"a": 1}]}""")
    assert(PagedJsonSource.extractItems(emptyResults).size === 1) // empty≈absent, Python `or`
    val discovery = mapper.readTree("""{"meta": 1, "things": [{"a": 1}]}""")
    assert(PagedJsonSource.extractItems(discovery).size === 1)
    val none = mapper.readTree("""{"meta": 1}""")
    assert(PagedJsonSource.extractItems(none).isEmpty)
    // a present-but-EMPTY results must not shadow a populated sibling
    // array in the discovery fallback (empty≈absent applies there too)
    val shadowed = mapper.readTree("""{"results": [], "other": [{"a": 1}, {"a": 2}]}""")
    assert(PagedJsonSource.extractItems(shadowed).size === 2)
  }

  test("intra-page duplicate keys: the LATER item wins deterministically (R18)") {
    val dir = Files.createTempDirectory("graft-intra-page").toFile
    val pages = new java.io.File(dir, "pages"); pages.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(pages, "page-0.json").toPath,
      """{"results": [
        {"id": 1, "pulse_info": {"name": "first", "id": 42}},
        {"id": 1, "pulse_info": {"name": "second", "id": 42}}]}""")
    val snap = dir.getAbsolutePath + "/snap"
    // repartition widely so a nondeterministic tie would actually flip
    val batch = Pipeline.transform(
      Pipeline.extract(spark, pages.getAbsolutePath, cfg), cfg).repartition(7)
    Pipeline.upsert(spark, batch, snap)
    val row = spark.read.parquet(snap).filter(col("pulse_id") === 42L).collect()
    assert(row.length === 1)
    assert(row.head.getAs[String]("pulse_name") === "second")
  }

  test("malformed payloads are quarantined, parseable keyless ones are not (R16)") {
    val dir = Files.createTempDirectory("graft-malformed").toFile
    val pages = new java.io.File(dir, "pages"); pages.mkdirs()
    // a JSON ARRAY payload: items 1-2 are objects (one keyless), item 3
    // is a bare scalar — not an object, fails the pulse parse
    java.nio.file.Files.writeString(new java.io.File(pages, "page-0.json").toPath,
      """[{"id": 1, "pulse_info": {"id": 7, "name": "ok"}}, {"note": "keyless"}, 5]""")
    val (valid, quarantine) = Pipeline.validate(Pipeline.transform(
      Pipeline.extract(spark, pages.getAbsolutePath, cfg), cfg))
    assert(valid.count() === 2L)       // keyed + keyless object both pass
    assert(quarantine.count() === 1L)  // the scalar fails the parse gate
  }

  test("withRetry backoff doubles (R3 exponential)") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val out = PagedJsonSource.withRetry(5, 100L, sleeps.append(_)) { () =>
      calls += 1
      if (calls < 4) throw new RuntimeException("boom")
      42
    }
    assert(out === 42)
    assert(sleeps.toSeq === Seq(100L, 200L, 400L))
  }

  test("status-aware retry: fatal 4xx fails fast, zero retries (R3)") {
    var calls = 0
    val e = intercept[PagedJsonSource.FetchException] {
      PagedJsonSource.withRetry(5, 100L, _ => fail("fatal 4xx must not sleep")) { () =>
        calls += 1
        throw PagedJsonSource.FetchException(401)
      }
    }
    assert(e.status === 401)
    assert(calls === 1) // one attempt — a bad API key never fixes itself
  }

  test("status-aware retry: 429 honors Retry-After verbatim (R3)") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val out = PagedJsonSource.withRetry(5, 100L, sleeps.append(_)) { () =>
      calls += 1
      if (calls < 3) throw PagedJsonSource.FetchException(429, Some(777L))
      "ok"
    }
    assert(out === "ok")
    assert(sleeps.toSeq === Seq(777L, 777L)) // server's price, not 100/200
  }

  test("status-aware retry: 5xx backs off exponentially (R3)") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val out = PagedJsonSource.withRetry(5, 100L, sleeps.append(_)) { () =>
      calls += 1
      if (calls < 4) throw PagedJsonSource.FetchException(503)
      "ok"
    }
    assert(out === "ok")
    assert(sleeps.toSeq === Seq(100L, 200L, 400L))
  }

  test("batchSize bounds rows per sink file (R17 batch analog)") {
    val dir = Files.createTempDirectory("graft-batchsize").toFile
    val snap = dir.getAbsolutePath + "/snap"
    Pipeline.run(spark, fixtures, snap, cfg.copy(batchSize = 2))
    val files = new java.io.File(snap).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(files.nonEmpty)
    // 6 merged rows with ≤2 rows per file → every data file respects the cap
    val counts = files.map(f =>
      spark.read.parquet(f.getAbsolutePath).count())
    assert(counts.sum === 6L)
    assert(counts.forall(_ <= 2L), s"file row counts ${counts.mkString(",")} exceed batchSize=2")
  }
}
