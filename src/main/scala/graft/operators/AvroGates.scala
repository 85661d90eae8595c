package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** Oracle gates that route the documents table THROUGH the graft-avro
  * DataSource V2 source/sink before aggregating, so the driver's hard
  * correctness signal covers the source end-to-end (container write →
  * partitioned layout → pruned/grouped read), not just the parquet path.
  * The oracle computes the same aggregate straight from parquet — the
  * avro round trip must be value-invisible.
  *
  * Each run writes to a fresh temp dir (cheap: documents is the small
  * corpus table) so gates stay independent and re-runnable.
  */
object AvroGates extends Catalog {

  /** Watermark-advance no-data micro-batches are what flush closed-window
    * state after a sentinel; the gates that rely on them pin the default.
    */
  private[operators] def pinNoDataBatches(s: SparkSession): Unit = {
    val k = "spark.sql.streaming.noDataMicroBatches.enabled"
    if (!s.conf.getOption(k).contains("true")) s.conf.set(k, "true")
  }

  /** Run `body` (which starts and fully drains a streaming query) with a
    * small shuffle-partition count, restoring the session value after.
    * Stateful streaming operators allocate state stores per shuffle
    * partition per micro-batch; for kilobytes of gate state, 32 partitions
    * of per-store commit overhead dominate the wall clock. The conf is
    * read at stream start and pinned into the checkpoint, so batch
    * queries before/after are unaffected. At production scale the same
    * knob is sized to state volume rather than inherited from the batch
    * shuffle width.
    */
  private[operators] def withStateParallelism[T](s: SparkSession, n: Int)(
      body: => T): T = {
    val k = "spark.sql.shuffle.partitions"
    val old = s.conf.get(k)
    s.conf.set(k, n.toString)
    try body finally s.conf.set(k, old)
  }

  /** Run `body` (a start-to-drain streaming query) on the RocksDB state
    * store provider, restoring the session conf after. The in-memory
    * HDFS-backed default holds every key on the executor heap — at
    * 100 TB stream state must spill, and RocksDB is Spark's production
    * answer (native memtable+SST per store, changelog into the
    * checkpoint). The conf is read at stream START and pinned into the
    * checkpoint, so the restart inside `body` recovers FROM the RocksDB
    * checkpoint — which is exactly what the restart gates prove.
    */
  private[operators] def withRocksDbStateStore[T](s: SparkSession)(
      body: => T): T = {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val old = s.conf.getOption(k)
    s.conf.set(k, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try body finally old match {
      case Some(v) => s.conf.set(k, v)
      case None => s.conf.unset(k)
    }
  }

  private def roundTrip(s: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val tmp = tempDir("graft_gate_avro")
    table(s, dir, "documents")
      .write.format("graft-avro")
      .options(options).mode("overwrite").save(tmp)
    s.read.format("graft-avro").load(tmp)
  }

  val queries: Map[String, Q] = Map(
    // parquet → avro (partitioned by lang) → filtered read: the lang
    // filter prunes whole partition directories before any file opens,
    // and the aggregate proves the surviving rows are value-identical
    "q_avro_roundtrip" -> ((s, dir) => {
      roundTrip(s, dir, Map("partitionBy" -> "lang"))
        .filter(F.col("lang").isin("en", "de", "fr"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars").cast("long")).as("chars"),
          F.sum(F.length(F.col("text")).cast("long")).as("text_len"))
        .orderBy("lang")
    }),

    // two co-partitioned avro tables under preservePartitioning: the
    // join AND both partial aggregations run with zero exchanges
    // (storage-partitioned join); results must still match the plain
    // parquet computation exactly
    "q_avro_spj" -> ((s, dir) => {
      // v2 bucketing activates SPJ planning; true by default on Spark 4,
      // pinned here (guarded, one-time) so the gate exercises the
      // exchange-free plan on any default
      val k = "spark.sql.sources.v2.bucketing.enabled"
      if (!s.conf.getOption(k).contains("true")) s.conf.set(k, "true")
      val t1 = tempDir("graft_gate_spj1")
      val t2 = tempDir("graft_gate_spj2")
      val docs = table(s, dir, "documents")
      docs.select("doc_id", "lang", "n_chars").write.format("graft-avro")
        .option("partitionBy", "lang").mode("overwrite").save(t1)
      docs.select("doc_id", "lang", "source").write.format("graft-avro")
        .option("partitionBy", "lang").mode("overwrite").save(t2)
      val a = s.read.format("graft-avro")
        .option("preservePartitioning", "true").load(t1)
        .groupBy("lang").agg(F.sum(F.col("n_chars").cast("long")).as("chars"))
      val b = s.read.format("graft-avro")
        .option("preservePartitioning", "true").load(t2)
        .groupBy("lang")
        .agg(F.count_distinct(F.col("source")).as("n_sources"))
      a.join(b, Seq("lang")).orderBy("lang")
    }),

    // NULLABLE data through the avro table: three generations (null-
    // free, all-null, mixed) exercise the `cnt:` null-count cells — IS
    // NULL file pruning, null-free zone decisions, metadata COUNT of a
    // string column — while the grouped aggregate must stay exact.
    "q_avro_nulls" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_nulls")
      val docs = table(s, dir, "documents")
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 0)
        .select(F.col("doc_id"), F.col("lang"))
        .write.format("graft-avro").mode("overwrite").save(tmp)
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 1)
        .select(F.col("doc_id"),
          F.lit(null).cast("string").as("lang"))
        .write.format("graft-avro").mode("append").save(tmp)
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 2)
        .select(F.col("doc_id"),
          F.when(F.pmod(F.col("doc_id"), F.lit(2)) === 0, F.col("lang"))
            .as("lang"))
        .write.format("graft-avro").mode("append").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .groupBy(F.col("lang").isNull.as("is_null"))
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.count(F.col("lang")).as("n_lang"),
          F.min("doc_id").as("min_id"), F.max("doc_id").as("max_id"))
        .orderBy("is_null")
    }),

    // Null predicates on FLOAT columns prune and decide: null counting
    // is finiteness-independent (a NaN/Infinity-tainted file loses its
    // VALUE bounds but keeps an exact cnt: cell), so IS [NOT] NULL on a
    // double column zone-decides per file — both halves of this gate
    // serve from metadata with zero rows decoded (NullCellsSpec pins
    // the plan + partition counts).
    "q_avro_nulls_float" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_nullsf")
      val docs = table(s, dir, "documents")
        .select(F.coalesce(F.col("doc_id"), F.lit(0L)).as("doc_id"),
          F.col("n_chars"))
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 0)
        .select(F.col("doc_id"), F.col("n_chars").cast("double").as("x"))
        .coalesce(1).write.format("graft-avro").mode("overwrite").save(tmp)
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 1)
        .select(F.col("doc_id"), F.lit(null).cast("double").as("x"))
        .coalesce(1).write.format("graft-avro").mode("append").save(tmp)
      // non-finite values taint the value zones but NOT the null cells
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 2)
        .select(F.col("doc_id"),
          F.when(F.pmod(F.col("doc_id"), F.lit(2)) === 0, F.lit(Double.NaN))
            .otherwise(F.col("n_chars").cast("double")).as("x"))
        .coalesce(1).write.format("graft-avro").mode("append").save(tmp)
      val t = s.read.format("graft-avro").load(tmp)
      val a = t.filter(F.col("x").isNull)
        .agg(F.count(F.lit(1)).as("n_null"),
          F.min("doc_id").as("min_null"), F.max("doc_id").as("max_null"))
      val b = t.filter(F.col("x").isNotNull)
        .agg(F.count(F.lit(1)).as("n_val"), F.count("x").as("n_x"))
      a.crossJoin(b)
    }),

    // hidden hash-bucket partitioning (`bucketBy=doc_id:16`): the
    // directory fan-out is bounded by N regardless of key cardinality,
    // and point/IN lookups prune to the literal's bucket — the
    // 100 TB point-lookup layout where identity partitioning would
    // explode into one directory per key. Values must round-trip the
    // bucketed layout exactly.
    "q_avro_bucket_prune" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_bucket")
      table(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .write.format("graft-avro").option("bucketBy", "doc_id:16")
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .filter(F.col("doc_id").isin(7L, 11L, 12L, 13L, 101L))
        .orderBy("doc_id")
    }),

    // hidden TEMPORAL partitioning (`transformBy=ts:day`, the DDL
    // `PARTITIONED BY (days(ts))` layout — the single most common
    // real-table layout at 100 TB): rows route to `ts_day=<epochDay>`
    // segments by the UTC day of the timestamp, and RAW-COLUMN range
    // predicates prune whole day directories through the transform's
    // monotonicity (XformLayoutSpec pins the pruned file counts; here
    // the windowed aggregate must match the oracle exactly, including
    // rows at both window boundaries).
    "q_avro_part_days" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_days")
      table(s, dir, "events").select("ts", "event_type", "value")
        .write.format("graft-avro").option("transformBy", "ts:day")
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .filter(F.col("ts") >= F.lit(
          java.sql.Timestamp.valueOf("2024-01-08 00:00:00")) &&
          F.col("ts") < F.lit(
            java.sql.Timestamp.valueOf("2024-01-22 00:00:00")))
        .groupBy(F.to_date(F.col("ts")).as("day"), F.col("event_type"))
        .agg(F.count(F.lit(1)).as("n_events"),
          F.sum(F.floor(F.col("value") * 1000).cast("long")).as("value_m"))
        .orderBy("day", "event_type")
    }),

    // storage-partitioned join between two CO-BUCKETED catalog tables:
    // both sides `PARTITIONED BY (bucket(8, doc_id))` with the
    // preservePartitioning table property, scans report bucket(8,
    // doc_id) keys resolved through the catalog's `bucket` function,
    // and the high-cardinality join runs with no exchange on either
    // side — the shape identity partitioning cannot reach (one dir per
    // doc_id is not a layout). Catalog tables are REQUIRED: bucket
    // transforms resolve against the relation's FunctionCatalog, which
    // path reads don't carry. BucketLayoutSpec pins the zero-exchange
    // plan; here the joined result must match the oracle exactly.
    "q_avro_bucket_join" -> ((s, dir) => {
      val k = "spark.sql.sources.v2.bucketing.enabled"
      if (!s.conf.getOption(k).contains("true")) s.conf.set(k, "true")
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .createOrReplaceTempView("docs_src_bkj")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.bkj_a")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.bkj_b")
      s.sql("CREATE TABLE graft_gate.gate.bkj_a " +
        "(doc_id BIGINT, n_chars INT) PARTITIONED BY (bucket(8, doc_id)) " +
        "TBLPROPERTIES ('graft.preservePartitioning'='true')")
      s.sql("CREATE TABLE graft_gate.gate.bkj_b " +
        "(doc_id BIGINT, lang STRING) PARTITIONED BY (bucket(8, doc_id)) " +
        "TBLPROPERTIES ('graft.preservePartitioning'='true')")
      s.sql("INSERT INTO graft_gate.gate.bkj_a " +
        "SELECT doc_id, n_chars FROM docs_src_bkj")
      s.sql("INSERT INTO graft_gate.gate.bkj_b " +
        "SELECT doc_id, lang FROM docs_src_bkj WHERE doc_id % 3 = 0")
      // MERGE hint (session-conf-free): at gate SF the small side would
      // auto-broadcast and dodge the storage-partitioned path; the hint
      // forces the sort-merge shape whose exchanges SPJ then eliminates
      s.sql("""SELECT /*+ MERGE(b) */ b.lang, count(*) AS n_docs,
              |       CAST(sum(a.n_chars) AS BIGINT) AS chars
              |FROM graft_gate.gate.bkj_a a
              |JOIN graft_gate.gate.bkj_b b ON a.doc_id = b.doc_id
              |GROUP BY b.lang ORDER BY b.lang""".stripMargin)
    }),

    // WRITE-path schema evolution under the oracle: a day-1 batch is
    // written with (doc_id, source, score:int); a day-2 batch APPENDS to
    // the same directory with score widened int→long and a new nullable
    // lang column. The merged read must see the latest writer's schema
    // (latest-schema-wins inference), finish the int→long promotion at
    // decode for day-1 rows, and resolve the missing lang to null — the
    // oracle re-derives all of it from the parquet original.
    "q_avro_evolve" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_evolve")
      val d = table(s, dir, "documents")
      d.filter(F.pmod(F.col("doc_id"), F.lit(2)) === 0)
        .select(F.col("doc_id"), F.col("source"),
          F.col("n_chars").cast("int").as("score"))
        .write.format("graft-avro").mode("overwrite").save(tmp)
      d.filter(F.pmod(F.col("doc_id"), F.lit(2)) === 1)
        .select(F.col("doc_id"), F.col("source"),
          (F.col("n_chars").cast("long") * 2).as("score"), F.col("lang"))
        .write.format("graft-avro").mode("append").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum("score").as("sum_score"),
          F.sum(F.when(F.col("lang").isNull, 1).otherwise(0))
            .cast("long").as("n_old"),
          F.count(F.col("lang")).as("n_new"))
        .orderBy("source")
    }),

    // Sink-side MERGE loop through the transactional commit — the
    // Delta-style read-merge-publish nightly job: day-1 publishes a base
    // table through the engine's sink; day-2 reads the PUBLISHED files
    // (not lineage), full-outer-merges a delta of inserts + updates
    // (q_upsert's coalesce algebra), and atomically republishes v2 via
    // the staged-rename batch commit; day-3 repeats against v2. The gate
    // returns the full v3 state: it must be exactly the twice-merged
    // table the oracle re-derives — a failed or partial commit anywhere
    // would surface as missing/stale rows. Each version lands in its own
    // directory (the nightly-snapshot layout llm_dedup_persistent uses):
    // readers of vN are never exposed to vN+1's in-flight state, and the
    // overwrite commit within a directory is all-or-nothing.
    "q_merge_publish" -> ((s, dir) => {
      val v1 = tempDir("graft_gate_merge_v1")
      val v2 = tempDir("graft_gate_merge_v2")
      val v3 = tempDir("graft_gate_merge_v3")
      val d = table(s, dir, "documents")
      val m3 = F.pmod(F.col("doc_id"), F.lit(3))
      val m6 = F.pmod(F.col("doc_id"), F.lit(6))
      def snap(pred: org.apache.spark.sql.Column, mult: Int, ver: Int) =
        d.filter(pred).select(F.col("doc_id"),
          (F.col("n_chars") * mult).as("val"), F.lit(ver).as("ver"))
      def merge(baseDir: String, delta: DataFrame): DataFrame = {
        val base = s.read.format("graft-avro").load(baseDir)
        base.as("b").join(delta.as("d"), Seq("doc_id"), "full_outer")
          .select(F.col("doc_id"),
            F.coalesce(F.col("d.val"), F.col("b.val")).as("val"),
            F.coalesce(F.col("d.ver"), F.col("b.ver")).as("ver"))
      }
      snap(m3 === 0, 1, 1)
        .write.format("graft-avro").mode("overwrite").save(v1)
      // day-2: inserts (doc_id%3==1) + updates to half the base (%6==0)
      merge(v1, snap(m3 === 1 || m6 === 0, 10, 2))
        .write.format("graft-avro").mode("overwrite").save(v2)
      // day-3: inserts (%3==2) + updates to half of day-2's rows (%6==1)
      merge(v2, snap(m3 === 2 || m6 === 1, 100, 3))
        .write.format("graft-avro").mode("overwrite").save(v3)
      s.read.format("graft-avro").load(v3).orderBy("doc_id")
    }),

    // STREAMING sink under the oracle: the documents table is staged as
    // three parquet files, micro-batched through Structured Streaming
    // (maxFilesPerTrigger=1 → three separate epoch commits) into the
    // graft-avro streaming sink, then the FINAL on-disk files are read
    // back and aggregated. Exactly-once epoch commits mean the streamed
    // multiset must equal the batch table — the oracle aggregates the
    // parquet original directly. Covers the full journaled-registry +
    // epoch-commit path end-to-end, not just under ScalaTest.
    "q_avro_stream" -> ((s, dir) => {
      val src = tempDir("graft_gate_stream_src")
      val out = tempDir("graft_gate_stream_out")
      val ckpt = tempDir("graft_gate_stream_ckpt")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars", "text")
      docs.repartition(3, F.col("doc_id")).write.mode("overwrite").parquet(src)
      val q = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.format("graft-avro")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      try q.processAllAvailable() finally q.stop()
      s.read.format("graft-avro").load(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars")).as("chars"),
          F.sum(F.length(F.col("text")).cast("long")).as("text_len"))
        .orderBy("lang")
    }),

    // STREAMING CDC-APPLY: a change feed consumed with foreachBatch,
    // each micro-batch upserted into a live graft-avro table via
    // mergeInto — the continuous ingestion loop a 100 TB curated table
    // actually runs (stream in, merge by key, table stays
    // duplicate-free and queryable throughout). Update batches carry
    // DISJOINT key sets so the final state is arrival-order-independent
    // (the file stream orders epochs by listing, which is not a
    // contract); replace-vs-insert routing is still exercised against
    // the base (two batches replace thirds of it, one inserts beyond
    // it). Oracle = base anti-joined with the folded updates.
    "q_stream_merge" -> ((s, dir) => {
      val src = tempDir("graft_gate_smerge_src")
      val tgt = tempDir("graft_gate_smerge_tgt")
      val ckpt = tempDir("graft_gate_smerge_ckpt")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      docs.withColumn("ver", F.lit(0L))
        .write.format("graft-avro").mode("overwrite").save(tgt)
      val u1 = docs.filter(F.col("doc_id") % 3 === 0)
        .withColumn("n_chars", F.col("n_chars") * 10)
        .withColumn("ver", F.lit(1L))
      val u2 = docs.filter(F.col("doc_id") % 3 === 1)
        .withColumn("n_chars", F.col("n_chars") * 100)
        .withColumn("ver", F.lit(2L))
      val u3 = docs.filter(F.col("doc_id") % 5 === 0)
        .withColumn("doc_id", F.col("doc_id") + 10000)
        .withColumn("ver", F.lit(3L))
      Seq(u1, u2, u3).foreach(
        _.repartition(1).write.mode("append").parquet(src))
      val q = s.readStream.schema(u1.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          graft.sources.AvroMaintenance.mergeInto(s, tgt, b, "doc_id")
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.format("graft-avro").load(tgt)
        .groupBy("ver")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum("n_chars").as("chars"),
          F.countDistinct("lang").as("n_langs"))
        .orderBy("ver")
    }),

    // STATEFUL STREAMING under the oracle: watermarked tumbling-day
    // window aggregation over the events stream, appended to the
    // graft-avro sink as windows close. The 90-day watermark exceeds the
    // data's time span, so no row is ever late-dropped regardless of
    // which micro-batch (file) it arrives in — the result is
    // batch-deterministic. A sentinel event far past max(ts)+delay
    // advances the watermark over every real window end, flushing all
    // state to files; the sentinel's own window stays open and never
    // reaches the sink (it is filtered anyway, defensively). The value
    // sum is per-row floor-scaled to integers so the cross-batch
    // accumulation order cannot drift vs the oracle.
    "q_stream_window" -> ((s, dir) => {
      // the sentinel-flush mechanics need the extra no-data micro-batch
      // that evicts closed-window state after the watermark advances; pin
      // the default (guarded, one-time) so a conf drift cannot silently
      // shrink the emitted row set
      AvroGates.pinNoDataBatches(s)
      val src = tempDir("graft_gate_swin_src")
      val out = tempDir("graft_gate_swin_out")
      val ckpt = tempDir("graft_gate_swin_ckpt")
      val ev = table(s, dir, "events").select("ts", "event_type", "value")
      ev.repartition(3, F.col("event_type")).write.mode("overwrite").parquet(src)
      val agg = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .withWatermark("ts", "90 days")
        .groupBy(F.window(F.col("ts"), "1 day").as("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).as("n_events"),
          F.sum(F.floor(F.col("value") * 1000).cast("long")).as("value_m"))
        .select(F.col("w.start").as("day"), F.col("event_type"),
          F.col("n_events"), F.col("value_m"))
      AvroGates.withStateParallelism(s, 4) {
        val q = agg.writeStream.format("graft-avro")
          .option("checkpointLocation", ckpt)
          .outputMode("append").start(out)
        try {
          q.processAllAvailable()
          val mm = ev.agg(F.min("ts"), F.max("ts")).head()
          val (minTs, maxTs) = (mm.getTimestamp(0), mm.getTimestamp(1))
          // the no-late-drops guarantee rests on span < watermark delay;
          // fail loudly if the testdata ever outgrows it
          require(maxTs.getTime - minTs.getTime < 90L * 86400L * 1000L,
            s"events span exceeds the 90-day watermark: $minTs .. $maxTs")
          val sentinel = new java.sql.Timestamp(
            maxTs.getTime + 92L * 86400L * 1000L)
          import s.implicits._
          Seq((sentinel, "zz_sentinel", 0.0)).toDF("ts", "event_type", "value")
            .write.mode("append").parquet(src)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.read.format("graft-avro").load(out)
        // null-safe: a NULL event_type group must survive the sentinel
        // filter the same way the oracle's GROUP BY keeps it
        .filter(!F.col("event_type").eqNullSafe("zz_sentinel"))
        .orderBy("day", "event_type")
    }),

    // STREAMING EXACT DEDUP under the oracle: the content-hash dedup
    // (llm_dedup_exact's key) run as a stream — dropDuplicates state
    // across micro-batches, appended to the sink. Emitting ONLY the
    // md5 key makes the result arrival-order-independent (which
    // duplicate survives doesn't matter when the key is the payload),
    // so the final file set must equal the batch DISTINCT exactly.
    "q_stream_dedup" -> ((s, dir) => {
      val src = tempDir("graft_gate_sdedup_src")
      val out = tempDir("graft_gate_sdedup_out")
      val ckpt = tempDir("graft_gate_sdedup_ckpt")
      val docs = table(s, dir, "documents").select("doc_id", "text")
      docs.repartition(3, F.col("doc_id")).write.mode("overwrite").parquet(src)
      AvroGates.withStateParallelism(s, 4) {
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          // defensively drop null text: Spark sorts nulls first, DuckDB
          // last, so a null key would break the ordered compare
          .filter(F.col("text").isNotNull)
          .select(F.md5(F.col("text")).as("h"))
          .dropDuplicates("h")
          .writeStream.format("graft-avro")
          .option("checkpointLocation", ckpt)
          .outputMode("append").start(out)
        try q.processAllAvailable() finally q.stop()
      }
      s.read.format("graft-avro").load(out).orderBy("h")
    }),

    // STREAM-STATIC ENRICHMENT under the oracle: the events stream
    // broadcast-joins a static dimension (nation, via a deterministic
    // user_id bucketing) per micro-batch, aggregates flow into the sink
    // only after the sentinel closes the windows. Proves the static
    // side re-resolves inside a streaming plan and the enriched
    // multiset matches the batch join bit-for-bit.
    "q_stream_enrich" -> ((s, dir) => {
      AvroGates.pinNoDataBatches(s) // see q_stream_window
      val src = tempDir("graft_gate_senr_src")
      val out = tempDir("graft_gate_senr_out")
      val ckpt = tempDir("graft_gate_senr_ckpt")
      val ev = table(s, dir, "events").select("ts", "user_id", "value")
      ev.repartition(3, F.col("user_id")).write.mode("overwrite").parquet(src)
      val nation = table(s, dir, "nation")
        .select(F.col("n_nationkey"), F.col("n_name"))
      val agg = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .withWatermark("ts", "90 days")
        .join(F.broadcast(nation),
          F.pmod(F.col("user_id"), F.lit(25)) === F.col("n_nationkey"))
        .groupBy(F.window(F.col("ts"), "1 week").as("w"), F.col("n_name"))
        .agg(F.count(F.lit(1)).as("n_events"),
          F.sum(F.floor(F.col("value") * 1000).cast("long")).as("value_m"))
        .select(F.col("w.start").as("week"), F.col("n_name"),
          F.col("n_events"), F.col("value_m"))
      AvroGates.withStateParallelism(s, 4) {
        val q = agg.writeStream.format("graft-avro")
          .option("checkpointLocation", ckpt)
          .outputMode("append").start(out)
        try {
          q.processAllAvailable()
          val mm = ev.agg(F.min("ts"), F.max("ts")).head()
          val (minTs, maxTs) = (mm.getTimestamp(0), mm.getTimestamp(1))
          require(maxTs.getTime - minTs.getTime < 90L * 86400L * 1000L,
            s"events span exceeds the 90-day watermark: $minTs .. $maxTs")
          // slack must cover watermark delay (90d) PLUS the worst-case
          // tail of an epoch-aligned week window past maxTs (7d): the
          // final watermark is sentinel − 90d and every real window ends
          // ≤ maxTs + 7d, so +99d always flushes the last week
          val sentinel = new java.sql.Timestamp(
            maxTs.getTime + 99L * 86400L * 1000L)
          import s.implicits._
          Seq((sentinel, -1L, 0.0)).toDF("ts", "user_id", "value")
            .write.mode("append").parquet(src)
          q.processAllAvailable()
        } finally q.stop()
      }
      // the sentinel row (user_id = -1 → pmod 24) joins a real nation but
      // its window never closes, so it cannot reach the sink; no filter
      // needed beyond the window-flush mechanics
      s.read.format("graft-avro").load(out).orderBy("week", "n_name")
    })
,

    // EXACTLY-ONCE ACROSS A RESTART under the oracle (unit-proven in
    // AvroFileSourceSpec; this gate makes it a driver-checked contract):
    // half the corpus streams through graft-avro source → sink and the
    // query is KILLED once at least one micro-batch has committed
    // (maxFilesPerTrigger=1 leaves later files pending). While the
    // stream is down the other half arrives with file names that sort
    // BEFORE the committed prefix — the adversarial case a sorted-listing
    // offset rebuild double-counts or skips; the append-order journal in
    // the checkpoint must not. The restarted query resumes from the
    // journaled offset, re-runs the possibly-torn uncommitted epoch onto
    // the same idempotent (epoch, partition) file names, and drains. The
    // final sink table must equal the full corpus EXACTLY once — any
    // replayed row doubles a count, any skipped file starves one — which
    // the oracle checks per-lang. Deterministic by construction: whatever
    // instant the kill lands on, exactly-once forces the same final table.
    "q_stream_restart" -> ((s, dir) => {
      val src = tempDir("graft_gate_restart_src")
      val out = tempDir("graft_gate_restart_out")
      val ckpt = tempDir("graft_gate_restart_ckpt")
      val stage = tempDir("graft_gate_restart_stage")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars", "text")
      docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) === 0)
        .repartition(3, F.col("doc_id"))
        .write.format("graft-avro").mode("overwrite").save(src)
      def start() = s.readStream.format("graft-avro").schema(docs.schema)
        .option("maxFilesPerTrigger", "1").load(src)
        .writeStream.format("graft-avro")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      val q1 = start()
      try {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (Option(q1.lastProgress).forall(_.numInputRows == 0) &&
            q1.isActive && System.nanoTime() < deadline)
          Thread.sleep(25)
      } finally q1.stop() // kill mid-stream; pending files stay unread
      docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) === 1)
        .repartition(3, F.col("doc_id"))
        .write.format("graft-avro").mode("overwrite").save(stage)
      graft.sources.AvroFileSource.listAvro(new java.io.File(stage))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(src, s"0000-outage-$i.avro").toPath)
        }
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      s.read.format("graft-avro").load(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars")).as("chars"),
          F.sum(F.length(F.col("text")).cast("long")).as("text_len"))
        .orderBy("lang")
    }),

    // Trigger.AvailableNow batch-drain under the oracle: two scheduled
    // runs over one checkpoint — the first pins the registry horizon at
    // start, drains it in rate-limited micro-batches, and TERMINATES BY
    // ITSELF; the second drains exactly the files that arrived between
    // runs (AvailableNowSpec pins the horizon + no-duplicate replay).
    // The cron-style ingestion shape: streaming exactly-once bookkeeping
    // with batch-job lifecycles.
    "q_stream_available_now" -> ((s, dir) => {
      val src = tempDir("graft_gate_avnow_src")
      val out = tempDir("graft_gate_avnow_out")
      val ckpt = tempDir("graft_gate_avnow_ckpt")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars")
      def runOnce(): Unit = {
        val q = s.readStream.format("graft-avro").schema(docs.schema)
          .option("maxFilesPerTrigger", "1").load(src)
          .writeStream.format("graft-avro")
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(out)
        require(q.awaitTermination(120000L),
          "availableNow run did not terminate")
      }
      docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) === 0)
        .repartition(3, F.col("doc_id"))
        .write.format("graft-avro").mode("overwrite").save(src)
      runOnce() // run 1: drains the even half, stops on its own
      docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) === 1)
        .repartition(3, F.col("doc_id"))
        .write.format("graft-avro").mode("append").save(src)
      runOnce() // run 2: drains ONLY the odd half from the checkpoint
      s.read.format("graft-avro").load(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars")).as("chars"))
        .orderBy("lang")
    }),

    // Byte-based admission control (r16, `maxBytesPerTrigger` — the
    // Delta/Auto-Loader knob): a backlog drains as micro-batches sized
    // by summed on-disk BYTES, not file count — the right cap when file
    // sizes vary wildly (a restart must not OOM on one giant catch-up
    // batch). The gate feeds a multi-file backlog through a tiny byte
    // cap under AvailableNow and proves multi-batch draining via the
    // checkpoint's committed-offset count, exact content via the agg.
    "q_stream_bytes_trigger" -> ((s, dir) => {
      val src = tempDir("graft_gate_bytes_src")
      val out = tempDir("graft_gate_bytes_out")
      val ckpt = tempDir("graft_gate_bytes_ckpt")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars")
      docs.repartition(6, F.col("doc_id"))
        .write.format("graft-avro").mode("overwrite").save(src)
      val q = s.readStream.format("graft-avro").schema(docs.schema)
        .option("maxBytesPerTrigger", "1") // every batch = exactly 1 file
        .load(src)
        .writeStream.format("graft-avro")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out)
      require(q.awaitTermination(120000L),
        "byte-capped availableNow run did not terminate")
      val batches = Option(new java.io.File(ckpt, "commits").listFiles())
        .map(_.count(f => f.getName.forall(_.isDigit))).getOrElse(0)
      s.read.format("graft-avro").load(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars").cast("long")).as("chars"))
        .withColumn("multi_batch", F.lit(batches >= 6))
        .orderBy("lang")
    }),

    // STREAMING CDC change feed under the oracle: three source commits
    // (append, append, full-churn overwrite) replay through
    // `readChangeFeed=true` from version 1; the sink accumulates every
    // change row, and the per-(version, change_type) counts + sums must
    // match the oracle's re-derivation — an overwrite surfaces as
    // paired delete+insert generations, per-version granularity intact.
    // STREAMING-MAINTAINED MATVIEW (r20): streaming epochs append to a
    // graft-avro table while an agg matview over it refreshes
    // incrementally — once mid-stream with the query LIVE (the view
    // lock and the table's commit lock compose: the refresh writes the
    // VIEW dir, epochs write the source, no deadlock by construction),
    // then after a kill/restart + AvailableNow drain. The final view
    // must equal the full fold over every generation — a lost epoch
    // delta, a double-folded refresh, or a lock deadlock all break it.
    "q_stream_matview" -> ((s, dir) => {
      val in = tempDir("graft_gate_smv_in")
      val tbl = tempDir("graft_gate_smv_tbl")
      val view = tempDir("graft_gate_smv_view")
      val ckpt = tempDir("graft_gate_smv_ckpt")
      val li = table(s, dir, "lineitem").select(
        F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
        F.col("l_returnflag").as("flag"),
        F.floor(F.col("l_quantity") * 100).cast("long").as("qty_c"))
      li.filter(F.pmod(F.col("okey"), F.lit(4)) === 0)
        .write.format("graft-avro").mode("overwrite").save(tbl) // v1
      graft.sources.GraftMatviews.create(s, view, tbl,
        """SELECT flag, count(*) AS n_lines,
          |  CAST(sum(qty_c) AS BIGINT) AS qty_sum
          |FROM __SRC__ GROUP BY flag""".stripMargin,
        """SELECT flag, CAST(sum(n_lines) AS BIGINT) AS n_lines,
          |  CAST(sum(qty_sum) AS BIGINT) AS qty_sum
          |FROM __ACC__ GROUP BY flag""".stripMargin)
      li.filter(F.pmod(F.col("okey"), F.lit(4)) === 1).repartition(2)
        .write.format("graft-avro").mode("append").save(in)
      def run(avNow: Boolean) = {
        val w = s.readStream.format("graft-avro")
          .option("maxFilesPerTrigger", "1").load(in)
          .writeStream.format("graft-avro")
          .option("checkpointLocation", ckpt).outputMode("append")
        (if (avNow) w.trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        else w).start(tbl)
      }
      val q1 = run(avNow = false)
      q1.processAllAvailable()
      // refresh with the streaming query still live
      graft.sources.GraftMatviews.refresh(s, view)
      q1.stop() // kill
      li.filter(F.pmod(F.col("okey"), F.lit(4)) === 2).repartition(2)
        .write.format("graft-avro").mode("append").save(in)
      li.filter(F.pmod(F.col("okey"), F.lit(4)) === 3).repartition(2)
        .write.format("graft-avro").mode("append").save(in)
      val q2 = run(avNow = true) // same checkpoint, self-terminating
      q2.awaitTermination()
      graft.sources.GraftMatviews.refresh(s, view)
      s.read.format("graft-avro").load(view)
        .select("flag", "n_lines", "qty_sum").orderBy("flag")
    }),

    "q_avro_cdc_stream" -> ((s, dir) => {
      val src = tempDir("graft_gate_cdcs_src")
      val out = tempDir("graft_gate_cdcs_out")
      val ckpt = tempDir("graft_gate_cdcs_ckpt")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars")
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 0)
        .write.format("graft-avro").mode("overwrite").save(src) // v1
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 1)
        .write.format("graft-avro").mode("append").save(src) // v2
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 2)
        .write.format("graft-avro").mode("overwrite").save(src) // v3
      val q = s.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(src)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .groupBy(F.col("_commit_version").as("version"),
          F.col("_change_type").as("change_type"))
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum(F.col("n_chars").cast("long")).as("chars"))
        .orderBy("version", "change_type")
    }),

    // CDC across EQUALITY DELETES: deleteWhere versions emit the
    // newly-hidden rows as `delete` change rows (read under the
    // previous sidecar, matched against the new entries) instead of
    // refusing — the feed survives routine row-level mutations. Stamp
    // gating is load-bearing: v4's append lands AFTER the lang='en'
    // delete, so its English rows are never re-killed, while v5's
    // lang='de' delete (stamped later) hits all three generations.
    "q_avro_cdc_delete" -> ((s, dir) => {
      val src = tempDir("graft_gate_cdcd_src")
      val out = tempDir("graft_gate_cdcd_out")
      val ckpt = tempDir("graft_gate_cdcd_ckpt")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars")
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 0)
        .write.format("graft-avro").mode("overwrite").save(src) // v1
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 1)
        .write.format("graft-avro").mode("append").save(src) // v2
      graft.sources.AvroMaintenance.deleteWhere(s, src, "lang",
        Seq("en")) // v3: row-level delta
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 2)
        .write.format("graft-avro").mode("append").save(src) // v4
      graft.sources.AvroMaintenance.deleteWhere(s, src, "lang",
        Seq("de")) // v5: hits every generation
      val q = s.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(src)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .groupBy(F.col("_commit_version").as("version"),
          F.col("_change_type").as("change_type"))
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum(F.col("n_chars").cast("long")).as("chars"))
        .orderBy("version", "change_type")
    }),

    // CDC resume past snapshot expiry: an expireSnapshots rebase drops
    // the early deltas; with `allowInitialSnapshot=true` a
    // from-the-beginning replay serves the first RETAINED version as a
    // full insert snapshot and continues with real deltas — the
    // explicit (never silent) full-replay escape hatch a lagging
    // 100 TB consumer needs after retention passed it by.
    "q_avro_cdc_snapshot" -> ((s, dir) => {
      val src = tempDir("graft_gate_cdcsnap_src")
      val out = tempDir("graft_gate_cdcsnap_out")
      val ckpt = tempDir("graft_gate_cdcsnap_ckpt")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars")
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 0)
        .write.format("graft-avro").mode("overwrite").save(src) // v1
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 1)
        .write.format("graft-avro").mode("append").save(src) // v2
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 2)
        .write.format("graft-avro").mode("overwrite").save(src) // v3
      // vacuum: v1's delta is gone; v2 becomes the snapshot horizon
      graft.sources.AvroMaintenance.expireSnapshots(src, keepLast = 2)
      val q = s.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("allowInitialSnapshot", "true")
        .load(src)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .groupBy(F.col("_commit_version").as("version"),
          F.col("_change_type").as("change_type"))
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum(F.col("n_chars").cast("long")).as("chars"))
        .orderBy("version", "change_type")
    }),

    // STREAMING ROLLING WRITER: a single-task stream honoring
    // `targetFileBytes` splits its epoch output into bounded container
    // files with deterministic (epoch, partition, seq) names —
    // exactly-once survives because a replayed epoch truncate-rewrites
    // the SAME segment series (RollingWriteSpec pins the replay). The
    // pad length scales inversely with row count so the stream's byte
    // volume crosses the roll target at EVERY SF, and the filter
    // MODULUS derives from the table's row count (mirrored in the
    // oracle) so the kept-row count always clears the writer's 256-row
    // size-check stride by a wide margin — a fixed %16 at a tiny SF
    // could leave too few rows for any roll check to ever fire.
    "q_avro_stream_roll" -> ((s, dir) => {
      val src = tempDir("graft_gate_sroll_src")
      val out = tempDir("graft_gate_sroll_out")
      val ckpt = tempDir("graft_gate_sroll_ckpt")
      val liAll = table(s, dir, "lineitem")
      val m = math.max(1L, math.min(16L, liAll.count() / 4096L))
      val li = liAll
        .filter(F.pmod(F.coalesce(F.col("l_orderkey"), F.lit(0L)),
          F.lit(m)) === 0)
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_quantity"))
      val n = li.count()
      val padLen = math.max(8L, 400000L / math.max(1L, n))
      val fed = li.withColumn("pad", F.expr(s"repeat('x', $padLen)"))
      fed.coalesce(1).write.mode("overwrite").parquet(src)
      val q = s.readStream.schema(fed.schema).parquet(src)
        .coalesce(1)
        .writeStream.format("graft-avro")
        .option("checkpointLocation", ckpt)
        .option("targetFileBytes", (128 * 1024).toString)
        .option("codec", "null")
        .outputMode("append").start(out)
      try q.processAllAvailable() finally q.stop()
      val files = graft.sources.AvroFileSource
        .listAvro(new java.io.File(out))
      // rolled into >= 2 bounded files (target + generous block slack)
      val rolled = files.size >= 2 &&
        files.forall(_.length() < 128L * 1024 + 1024 * 1024)
      s.read.format("graft-avro").load(out)
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).as("qty_c"),
          F.sum("okey").as("sum_okey"))
        .withColumn("rolled", F.lit(rolled))
    }),

    // STREAMING WRITES THROUGH THE CATALOG (writeStream.toTable): the
    // SQL-first streaming path — a DDL table whose declared layout
    // (graft.* table properties: rolling target, bloom columns, codec)
    // and CHECK constraint govern streaming epochs exactly like batch
    // INSERTs. Phase 1 streams violating rows: the epoch must FAIL with
    // nothing published (the table still answers empty). Phase 2
    // streams clean rows: rolled files stay bounded by the declared
    // target and the epoch-commit stat fold (r17) covers every
    // streamed file with a doc_id bloom entry. The aggregate must
    // match the oracle exactly.
    "q_stream_to_table" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      val src = tempDir("graft_gate_stt_src")
      val badSrc = tempDir("graft_gate_stt_bad")
      val ckptBad = tempDir("graft_gate_stt_ckb")
      val ckpt = tempDir("graft_gate_stt_ck")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.stream_tbl")
      s.sql("""CREATE TABLE graft_gate.gate.stream_tbl
              |  (doc_id BIGINT, lang STRING, n_chars BIGINT, pad STRING)
              |  TBLPROPERTIES ('graft.targetFileBytes' = '131072',
              |    'graft.codec' = 'null', 'graft.bloomFor' = 'doc_id')"""
        .stripMargin)
      s.sql("ALTER TABLE graft_gate.gate.stream_tbl " +
        "ADD CONSTRAINT chars_nonneg CHECK (n_chars >= 0)")
      val docs = table(s, dir, "documents")
        .select(F.col("doc_id").cast("long").as("doc_id"), F.col("lang"),
          F.col("n_chars").cast("long").as("n_chars"))
      val n = docs.count()
      // pad sized inversely with row count so the roll target is
      // crossed at EVERY SF (the q_avro_stream_roll rule)
      val padLen = math.max(8L, 400000L / math.max(1L, n))
      val fed = docs.withColumn("pad", F.expr(s"repeat('x', $padLen)"))
      fed.limit(50).withColumn("n_chars", F.lit(-1L))
        .coalesce(1).write.mode("overwrite").parquet(badSrc)
      val qBad = s.readStream.schema(fed.schema).parquet(badSrc)
        .writeStream.option("checkpointLocation", ckptBad)
        .toTable("graft_gate.gate.stream_tbl")
      val epochFailed =
        try { qBad.processAllAvailable(); false }
        catch { case scala.util.control.NonFatal(_) => true }
        finally qBad.stop()
      val emptyAfterFail = s.sql(
        "SELECT count(*) FROM graft_gate.gate.stream_tbl")
        .head().getLong(0) == 0L
      fed.coalesce(1).write.mode("overwrite").parquet(src)
      val q = s.readStream.schema(fed.schema).parquet(src)
        .coalesce(1)
        .writeStream.option("checkpointLocation", ckpt)
        .toTable("graft_gate.gate.stream_tbl")
      try q.processAllAvailable() finally q.stop()
      val root = s.conf.get("spark.sql.catalog.graft_gate.root")
      val tdir = new java.io.File(new java.io.File(root, "gate"),
        "stream_tbl")
      val files = graft.sources.AvroFileSource.listAvro(tdir)
      val rolled = files.size >= 2 &&
        files.forall(_.length() < 128L * 1024 + 1024 * 1024)
      val base = tdir.getAbsoluteFile.toPath
      val live = files
        .map(f => base.relativize(f.getAbsoluteFile.toPath).toString).toSet
      val bloomFam = graft.sources.StatsManifests.Blooms
      val bloomRels: Set[String] =
        graft.sources.StatsManifests.byRel(bloomFam, bloomFam.in(tdir))
          .collect { case (rel, ls) if ls.exists(l =>
            java.net.URLDecoder.decode(l(1), "UTF-8") == "doc_id") => rel }
          .toSet
      val blooms = live.nonEmpty && live.subsetOf(bloomRels)
      s.sql("""SELECT lang, count(*) AS n_docs,
              |       CAST(sum(n_chars) AS BIGINT) AS chars
              |FROM graft_gate.gate.stream_tbl
              |GROUP BY lang ORDER BY lang""".stripMargin)
        .withColumn("rolled", F.lit(rolled))
        .withColumn("blooms", F.lit(blooms))
        .withColumn("failed_epoch", F.lit(epochFailed && emptyAfterFail))
    }),

    // PURE-SQL BATCH CDC (the table_changes TVF): three SQL-only
    // lifecycle steps — CTAS (v1), INSERT (v2), metadata DELETE (v3) —
    // then `SELECT ... FROM table_changes('cat.ns.t', 1, 3)` reads the
    // net changelog with zero Scala calls. Net-diff semantics under the
    // oracle: rows inserted AND deleted inside the range cancel, the
    // equality-delete delta emits the from-version rows it killed as
    // `delete` rows. The TVF resolves to the fully distributed changes
    // plan (no driver-side materialization — that is why it is a TVF,
    // not a CALL procedure).
    "q_avro_table_changes" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "documents")
        .select(F.col("doc_id").cast("long").as("doc_id"), F.col("lang"),
          F.col("n_chars").cast("long").as("n_chars"))
        .createOrReplaceTempView("docs_src_chg")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.chg")
      s.sql("CREATE TABLE graft_gate.gate.chg AS " +
        "SELECT * FROM docs_src_chg WHERE doc_id % 2 = 0")
      s.sql("INSERT INTO graft_gate.gate.chg " +
        "SELECT * FROM docs_src_chg WHERE doc_id % 2 = 1")
      s.sql("DELETE FROM graft_gate.gate.chg WHERE lang = 'en'")
      // the literal (1, 3] below assumes one journal version per step —
      // fail loudly here rather than hash-mismatch if that ever drifts
      val root = s.conf.get("spark.sql.catalog.graft_gate.root")
      val tdir = new java.io.File(new java.io.File(root, "gate"), "chg")
      val cur = graft.sources.AvroFileSource.readSnapshots(tdir)
        .lastOption.map(_.version).getOrElse(0L)
      require(cur == 3L,
        s"q_avro_table_changes: expected journal version 3, found $cur")
      s.sql("""SELECT _change_type, count(*) AS n_rows,
              |       CAST(sum(n_chars) AS BIGINT) AS chars
              |FROM table_changes('graft_gate.gate.chg', 1, 3)
              |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
    }),

    // STATEFUL exactly-once across a restart: q_stream_restart proves
    // the stateless source replay; this gate kills a windowed
    // AGGREGATION while its window sums live only in the state store
    // (nothing has reached the sink yet — windows close on watermark
    // advance, which the sentinel triggers in phase 2). The restarted
    // query must recover per-window partial state from the checkpointed
    // store, drain the remaining files, and flush on the sentinel; lost
    // state starves a window's count, replayed state doubles it — the
    // oracle compares against the batch aggregation either way.
    // Deterministic whatever instant the kill lands on.
    "q_stream_restart_agg" -> ((s, dir) => {
      AvroGates.pinNoDataBatches(s)
      val src = tempDir("graft_gate_ragg_src")
      val out = tempDir("graft_gate_ragg_out")
      val ckpt = tempDir("graft_gate_ragg_ckpt")
      val ev = table(s, dir, "events").select("ts", "event_type", "value")
      ev.repartition(3, F.col("event_type")).write.mode("overwrite").parquet(src)
      def agg = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .withWatermark("ts", "90 days")
        .groupBy(F.window(F.col("ts"), "1 day").as("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).as("n_events"),
          F.sum(F.floor(F.col("value") * 1000).cast("long")).as("value_m"))
        .select(F.col("w.start").as("day"), F.col("event_type"),
          F.col("n_events"), F.col("value_m"))
      def start() = agg.writeStream.format("graft-avro")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      // RocksDB provider: the kill lands while the window sums live only
      // in RocksDB memtables/SSTs + the changelog in the checkpoint —
      // the restart recovers custom state from THAT, not the in-memory
      // default (which holds all state on-heap and cannot spill at scale)
      AvroGates.withStateParallelism(s, 4) {
       AvroGates.withRocksDbStateStore(s) {
        val q1 = start()
        try {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (Option(q1.lastProgress).forall(_.numInputRows == 0) &&
              q1.isActive && System.nanoTime() < deadline)
            Thread.sleep(25)
        } finally q1.stop() // kill: window sums exist ONLY in the store
        val q2 = start()
        try {
          q2.processAllAvailable()
          val mm = ev.agg(F.min("ts"), F.max("ts")).head()
          val (minTs, maxTs) = (mm.getTimestamp(0), mm.getTimestamp(1))
          require(maxTs.getTime - minTs.getTime < 90L * 86400L * 1000L,
            s"events span exceeds the 90-day watermark: $minTs .. $maxTs")
          val sentinel = new java.sql.Timestamp(
            maxTs.getTime + 92L * 86400L * 1000L)
          import s.implicits._
          Seq((sentinel, "zz_sentinel", 0.0)).toDF("ts", "event_type", "value")
            .write.mode("append").parquet(src)
          q2.processAllAvailable()
        } finally q2.stop()
       }
      }
      s.read.format("graft-avro").load(out)
        .filter(!F.col("event_type").eqNullSafe("zz_sentinel"))
        .orderBy("day", "event_type")
    }),

    // Metadata-served MIN/MAX under the oracle: the same sorted write,
    // then a bare min/max of the sort column — answered entirely from
    // the _graft_zones_cols manifest with ZERO data files opened
    // (ZoneMapSpec proves it on truncated files). The Iceberg
    // metadata-aggregate shape: on a 100 TB sorted table this is a
    // driver-side manifest fold, not a scan.
    "q_avro_minmax" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_minmax")
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .repartitionByRange(8, F.col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.format("graft-avro").option("sortedBy", "l_orderkey")
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .agg(F.min("l_orderkey").as("min_key"),
          F.max("l_orderkey").as("max_key"))
    }),

    // BLOCK-LEVEL SKIPPING inside a sorted file (r17, `_graft_blockidx`):
    // the verified sorted write records per-chunk [min, max] byte
    // ranges (forced sync every 4096 rows), and a selective range
    // predicate then plans only the OVERLAPPING CHUNKS as input
    // partitions — the parquet row-group analogue for Avro containers
    // (BlockIdxSpec pins partition counts, posdel composition, and the
    // row-level-op stand-down). At 100 TB with ~1 GB sorted files this
    // is the difference between reading a file and reading a block.
    // The aggregate must match the oracle exactly.
    "q_avro_block_skip" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_bix")
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .coalesce(1).sortWithinPartitions("l_orderkey")
        .write.format("graft-avro").option("sortedBy", "l_orderkey")
        .mode("overwrite").save(tmp)
      require(graft.sources.AvroFileSource
        .blockIdxFile(new java.io.File(tmp)).isFile,
        "q_avro_block_skip: no block index written")
      s.read.format("graft-avro").load(tmp)
        .filter(F.col("l_orderkey").between(600L, 1400L))
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum(F.col("l_orderkey")).as("key_sum"),
          F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).as("qty_c"),
          F.sum(F.col("l_linenumber").cast("long")).as("line_sum"))
    }),

    // MULTI-COLUMN sortedBy (`sortedBy=okey,lnum`): a LEXICOGRAPHIC
    // layout claim, declared via requestSort so Spark itself arranges
    // the rows (ordered distribution = global range partition on the
    // tuple + in-task sort) — a green write IS proof the compound claim
    // verified (OrderVerifier throws on any tuple inversion). Read
    // side: the primary-and-secondary range filter prunes through the
    // all-column zones (tight per-file lnum ranges within okey-equal
    // runs are exactly what the compound sort buys), and the unfiltered
    // MIN/MAX of BOTH columns serves from metadata (SortedMultiSpec
    // pins the claim lifecycle and prefix ordering report).
    "q_avro_sorted_multi" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_smulti")
      val li = table(s, dir, "lineitem")
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_linenumber").cast("int").as("lnum"),
          F.col("l_quantity"))
      li.write.format("graft-avro")
        .option("sortedBy", "okey,lnum").option("requestSort", "true")
        .mode("overwrite").save(tmp)
      require(graft.sources.AvroFileSource
        .sortedColumnsOf(new java.io.File(tmp)) == Seq("okey", "lnum"),
        "q_avro_sorted_multi: compound sort claim not stamped")
      val t = s.read.format("graft-avro").load(tmp)
      val filt = t.filter(F.col("okey").between(1000L, 5000L) &&
          F.col("lnum") >= 4)
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).as("qty_c"))
      val mm = t.agg(F.min("okey").as("min_okey"),
        F.max("okey").as("max_okey"),
        F.min("lnum").as("min_lnum"), F.max("lnum").as("max_lnum"))
      filt.crossJoin(mm)
    }),

    // THE SQL SURFACE under the oracle: a registered GraftCatalog turns
    // plain spark.sql into the whole lifecycle — CREATE NAMESPACE, CTAS
    // into a graft-avro directory, metadata DELETE FROM (equality
    // predicates → the sidecar, zero rows rewritten), and the final
    // SELECT back. Idempotent (DROP IF EXISTS) so bench reps re-enter
    // cleanly through the session-cached catalog instance.
    "q_avro_sqlddl" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "customer").createOrReplaceTempView("cust_src_cat")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.cust")
      s.sql("CREATE TABLE graft_gate.gate.cust AS " +
        "SELECT c_custkey, c_mktsegment, c_acctbal FROM cust_src_cat")
      s.sql("DELETE FROM graft_gate.gate.cust WHERE c_custkey IN (1, 7, 42)")
      s.sql("""SELECT c_mktsegment, count(*) AS n_cust,
              |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
              |         AS BIGINT) AS cents
              |FROM graft_gate.gate.cust
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),

    // ATOMIC CTAS/RTAS (StagingTableCatalog): the replacement query
    // writes into a hidden staging directory and swaps in only on
    // success — mid-gate a REPLACE with a poisoned query FAILS and the
    // prior generation must still answer; then a successful CREATE OR
    // REPLACE swaps the final generation the oracle verifies.
    "q_avro_rtas" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .createOrReplaceTempView("cust_src_rtas")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.rtas")
      s.sql("CREATE TABLE graft_gate.gate.rtas AS " +
        "SELECT * FROM cust_src_rtas WHERE c_custkey % 2 = 0")
      // a poisoned replace fails mid-write: the even-half generation
      // must survive untouched (atomicity is what this gate pins)
      val poisonFailed =
        try {
          s.sql("REPLACE TABLE graft_gate.gate.rtas AS " +
            "SELECT assert_true(c_custkey < 0) AS a, c_custkey " +
            "FROM cust_src_rtas")
          false
        } catch { case scala.util.control.NonFatal(_) => true }
      require(poisonFailed,
        "q_avro_rtas: poisoned REPLACE unexpectedly succeeded")
      val survived = s.sql(
        "SELECT count(*) FROM graft_gate.gate.rtas").head().getLong(0)
      s.sql("CREATE OR REPLACE TABLE graft_gate.gate.rtas AS " +
        "SELECT * FROM cust_src_rtas WHERE c_custkey % 2 = 1")
      s.sql(s"""SELECT c_mktsegment, count(*) AS n_cust,
               |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
               |         AS BIGINT) AS cents,
               |       CAST($survived AS BIGINT) AS survived
               |FROM graft_gate.gate.rtas
               |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),

    // COMPACTION INVISIBILITY under the oracle: metadata-delete, then
    // CALL system.compact — the in-place bin-pack must materialize the
    // deletes, drop the sidecar, collapse the file count, and leave the
    // logical content EXACTLY unchanged; the post-compact aggregate is
    // hash-compared against the oracle's direct re-derivation. A row
    // lost in the rewrite, a delete resurrected by the cleared sidecar,
    // or a double-applied delete all break the hash.
    "q_avro_compact_sql" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "part")
        .select("p_partkey", "p_brand", "p_retailprice")
        .createOrReplaceTempView("part_src_cat")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.pcomp")
      s.sql("CREATE TABLE graft_gate.gate.pcomp AS " +
        "SELECT * FROM part_src_cat WHERE p_partkey % 2 = 0")
      s.sql("INSERT INTO graft_gate.gate.pcomp " +
        "SELECT * FROM part_src_cat WHERE p_partkey % 2 = 1")
      s.sql("DELETE FROM graft_gate.gate.pcomp WHERE p_partkey IN (2, 3, 5)")
      s.sql("CALL graft_gate.system.compact('gate.pcomp', 1000000000)")
      s.sql("""SELECT p_brand, count(*) AS n_parts,
              |       CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT))
              |         AS BIGINT) AS cents
              |FROM graft_gate.gate.pcomp
              |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
    }),

    // SQL VIEWS under the oracle: a persistent view (`_graft_view_*`
    // sidecar, resolved by the injected ResolveGraftViews analyzer
    // rule) created over HALF the table, then read AFTER the second
    // half lands — the view must re-analyze live at every read, so a
    // stale captured plan (instead of re-resolution) breaks the hash.
    // DDL goes through CALL (OSS Spark ships no v2 CREATE VIEW exec);
    // reads are plain SQL.
    "q_avro_view" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "customer").createOrReplaceTempView("custv_src_cat")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      // idempotent for bench reps: remove any prior view sidecar
      scala.util.Try(
        s.sql("CALL graft_gate.system.drop_view('gate.custview')"))
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.custbase")
      s.sql("CREATE TABLE graft_gate.gate.custbase AS " +
        "SELECT c_custkey, c_mktsegment, c_acctbal FROM custv_src_cat " +
        "WHERE c_custkey % 2 = 0")
      s.sql("CALL graft_gate.system.create_view('gate.custview', " +
        "'SELECT c_mktsegment, count(*) AS n_cust, " +
        "CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) " +
        "AS cents FROM graft_gate.gate.custbase GROUP BY c_mktsegment')")
      s.sql("INSERT INTO graft_gate.gate.custbase " +
        "SELECT c_custkey, c_mktsegment, c_acctbal FROM custv_src_cat " +
        "WHERE c_custkey % 2 = 1")
      s.sql("SELECT * FROM graft_gate.gate.custview " +
        "ORDER BY c_mktsegment")
    }),

    // SQL METADATA TABLES under the oracle: a scripted lifecycle (CTAS,
    // append, metadata delete, tag, constraint) then one query over the
    // `.history` / `.refs` / `.constraints` suffix tables — the
    // journal's versions/kinds/delete flags, the pinned tag, and the
    // stored constraint must equal the oracle's literal expectation
    // row-for-row.
    "q_avro_metatables" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "region").createOrReplaceTempView("reg_src_cat")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.meta")
      s.sql("CREATE TABLE graft_gate.gate.meta AS SELECT * FROM reg_src_cat")
      s.sql("INSERT INTO graft_gate.gate.meta " +
        "SELECT * FROM reg_src_cat WHERE r_regionkey < 2")
      s.sql("DELETE FROM graft_gate.gate.meta WHERE r_regionkey IN (4)")
      s.sql("CALL graft_gate.system.create_tag('gate.meta', 'base', 1)")
      s.sql("CALL graft_gate.system.add_constraint('gate.meta', " +
        "'key_pos', 'r_regionkey >= 0')")
      s.sql("""SELECT 'v' || CAST(version AS STRING) AS item,
              |       kind AS info, has_deletes
              |FROM graft_gate.gate.meta.history
              |UNION ALL
              |SELECT 'tag:' || name, 'v' || CAST(version AS STRING), false
              |FROM graft_gate.gate.meta.refs
              |UNION ALL
              |SELECT 'chk:' || name, expr, false
              |FROM graft_gate.gate.meta.constraints
              |ORDER BY item, info""".stripMargin)
    }),

    // `partitions` METADATA TABLE under the oracle: a partitioned
    // catalog table written twice (CTAS + INSERT), each write hash-
    // clustered on the partition column so every priority value lands
    // in exactly one task → exactly one file per partition per write.
    // The meta view must aggregate the listing to (part, n_files=2)
    // with URL-DECODED partition values ('4-NOT SPECIFIED' carries a
    // space that rides the directory segment as '+').
    "q_avro_partitions" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "orders").createOrReplaceTempView("ord_src_part")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.pmeta")
      s.sql("""CREATE TABLE graft_gate.gate.pmeta
              |PARTITIONED BY (o_orderpriority) AS
              |SELECT /*+ REPARTITION(o_orderpriority) */
              |       o_orderkey, o_totalprice, o_orderpriority
              |FROM ord_src_part""".stripMargin)
      s.sql("""INSERT INTO graft_gate.gate.pmeta
              |SELECT /*+ REPARTITION(o_orderpriority) */
              |       o_orderkey + 1000000, o_totalprice, o_orderpriority
              |FROM ord_src_part WHERE o_orderkey % 3 = 0""".stripMargin)
      s.sql("""SELECT part, n_files
              |FROM graft_gate.gate.pmeta.partitions
              |ORDER BY part""".stripMargin)
    }),

    // INCREMENTAL MATERIALIZED VIEW under the oracle: create over v1,
    // append v2 and v3 to the source, refresh — which reads ONLY the
    // delta through the additive-only incremental path and combines
    // with the stored partials. The final view rows must equal a full
    // recompute over all three generations exactly: a refresh that
    // re-reads v1, loses a delta row, or mis-combines breaks the hash.
    "q_avro_matview" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
        .repartition(s.sparkContext.defaultParallelism)
        .createOrReplaceTempView("li_src_mv")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mv")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mvsrc")
      s.sql("CREATE TABLE graft_gate.gate.mvsrc AS " +
        "SELECT * FROM li_src_mv") // v1
      s.sql("""CALL graft_gate.system.create_matview('gate.mv',
              |  'gate.mvsrc',
              |  'SELECT l_returnflag AS flag, count(*) AS n_lines,
              |     CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              |       AS BIGINT) AS cents,
              |     CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
              |       AS BIGINT) AS qty_c
              |   FROM __SRC__ GROUP BY l_returnflag',
              |  'SELECT flag, CAST(sum(n_lines) AS BIGINT) AS n_lines,
              |     CAST(sum(cents) AS BIGINT) AS cents,
              |     CAST(sum(qty_c) AS BIGINT) AS qty_c
              |   FROM __ACC__ GROUP BY flag')""".stripMargin)
      s.sql("INSERT INTO graft_gate.gate.mvsrc " +
        "SELECT * FROM li_src_mv WHERE l_orderkey % 5 = 0") // v2
      s.sql("INSERT INTO graft_gate.gate.mvsrc " +
        "SELECT * FROM li_src_mv WHERE l_orderkey % 7 = 0") // v3
      s.sql("CALL graft_gate.system.refresh_matview('gate.mv')")
      s.sql("SELECT flag, n_lines, cents, qty_c " +
        "FROM graft_gate.gate.mv ORDER BY flag")
    }),

    // Matview STALENESS BUDGET (r18): the view opts into lazy refresh
    // at read time (CALL system.set_matview_staleness) — the final
    // SELECT below runs with NO manual refresh call after the second
    // source generation, and must still serve the fully-folded
    // aggregate because the catalog read noticed the view was past its
    // budget and ran the incremental refresh itself (under the view
    // lock; MatviewStaleSpec pins the once-only commit and the
    // zero-version fresh read). This closes the last manual step in
    // the pipeline story: writers append, readers always see the view
    // within its freshness contract.
    "q_avro_matview_stale" -> ((s, dir) => {
      if (s.conf.getOption("spark.sql.catalog.graft_gate").isEmpty) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
        .createOrReplaceTempView("li_src_mvs")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mvs")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mvssrc")
      s.sql("CREATE TABLE graft_gate.gate.mvssrc AS " +
        "SELECT * FROM li_src_mvs") // v1
      s.sql("""CALL graft_gate.system.create_matview('gate.mvs',
              |  'gate.mvssrc',
              |  'SELECT l_returnflag AS flag, count(*) AS n_lines,
              |     CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
              |       AS BIGINT) AS qty_c
              |   FROM __SRC__ GROUP BY l_returnflag',
              |  'SELECT flag, CAST(sum(n_lines) AS BIGINT) AS n_lines,
              |     CAST(sum(qty_c) AS BIGINT) AS qty_c
              |   FROM __ACC__ GROUP BY flag')""".stripMargin)
      s.sql(
        "CALL graft_gate.system.set_matview_staleness('gate.mvs', 0)")
      s.sql("INSERT INTO graft_gate.gate.mvssrc " +
        "SELECT * FROM li_src_mvs WHERE l_orderkey % 3 = 0") // v2
      Thread.sleep(5) // move past the zero budget's stamp resolution
      // NO refresh call: the read itself folds the delta
      s.sql("SELECT flag, n_lines, qty_c " +
        "FROM graft_gate.gate.mvs ORDER BY flag")
    }),

    // Matview maintenance THROUGH deletes (r16): a delta-maintained
    // view folds the CDC changes frame with signed contributions (the
    // classic counting algorithm) instead of failing on rewritten
    // history. Mid-history equality DELETE kills every English row of
    // the first two generations; the post-delete append's non-English
    // rows land normally; a group folding to zero rows (en) VANISHES
    // via the combine's HAVING. One refresh, O(changed rows).
    "q_avro_matview_del" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .createOrReplaceTempView("docs_src_mvd")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mvd")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mvdsrc")
      s.sql("CREATE TABLE graft_gate.gate.mvdsrc AS " +
        "SELECT * FROM docs_src_mvd") // v1
      s.sql("""CALL graft_gate.system.create_delta_matview('gate.mvd',
              |  'gate.mvdsrc',
              |  'SELECT lang, count(*) AS n_docs,
              |     CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars
              |   FROM __SRC__ GROUP BY lang',
              |  'SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_docs,
              |     CAST(sum(chars) AS BIGINT) AS chars
              |   FROM __ACC__ GROUP BY lang
              |   HAVING CAST(sum(n_docs) AS BIGINT) > 0',
              |  'SELECT lang,
              |     CAST(sum(CASE WHEN _change_type = ''insert''
              |       THEN 1 ELSE -1 END) AS BIGINT) AS n_docs,
              |     CAST(sum(CASE WHEN _change_type = ''insert''
              |       THEN CAST(n_chars AS BIGINT)
              |       ELSE -CAST(n_chars AS BIGINT) END) AS BIGINT) AS chars
              |   FROM __CHG__ GROUP BY lang')""".stripMargin)
      s.sql("INSERT INTO graft_gate.gate.mvdsrc " +
        "SELECT * FROM docs_src_mvd WHERE doc_id % 3 = 1") // v2
      s.sql("DELETE FROM graft_gate.gate.mvdsrc WHERE lang = 'en'") // v3
      s.sql("INSERT INTO graft_gate.gate.mvdsrc " +
        "SELECT * FROM docs_src_mvd " +
        "WHERE doc_id % 7 = 0 AND lang <> 'en'") // v4
      s.sql("CALL graft_gate.system.refresh_matview('gate.mvd')")
      s.sql("SELECT lang, n_docs, chars " +
        "FROM graft_gate.gate.mvd ORDER BY lang")
    }),

    // Grouped zero-decode COUNT under the oracle: every row of a file
    // carries its directory's partition values, so COUNT(*) GROUP BY
    // the partition column is one block-header walk per file — zero
    // rows decoded (AvroGroupCountSpec pins the plan + posdel/evolution
    // stand-downs). The 100 TB shape: per-partition row accounting on a
    // petabyte table straight from metadata, the Iceberg
    // partitions-table query as a plain GROUP BY.
    "q_avro_count_grouped" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_cntg")
      table(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .write.format("graft-avro")
        .option("partitionBy", "o_orderpriority")
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // CHUNK-LEVEL MEMBERSHIP PRUNING (r18): `chunkBloomFor` writes one
    // bloom cell per (chunk, column) into the block-range index, so a
    // small join-key set drops CHUNKS of a kept file — composing the
    // 13× intra-file skipping with equality/join pruning (zone bounds
    // can't help here: the probed rid column is a scattered hash, every
    // chunk spans the domain). The gate REQUIRES the drop (kept chunks
    // < total chunks — loud failure if pruning ever stops biting), then
    // answers a broadcast join over the pruned scan; BlockIdxLaws pins
    // the model equality and BlockIdxSpec the runtime-IN path.
    "q_avro_block_bloom" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_cbloom")
      def rid(c: org.apache.spark.sql.Column) =
        F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10)
          .cast("long")
      table(s, dir, "lineitem")
        .select(F.col("l_orderkey"), F.col("l_quantity"),
          rid(F.col("l_orderkey")).as("rid"))
        .coalesce(1).sortWithinPartitions("l_orderkey")
        .write.format("graft-avro").option("sortedBy", "l_orderkey")
        .option("chunkBloomFor", "rid")
        .mode("overwrite").save(tmp)
      val t = s.read.format("graft-avro").load(tmp)
      val keys = t.select("l_orderkey").distinct().orderBy("l_orderkey")
        .limit(4).withColumn("rid", rid(F.col("l_orderkey")))
      val keyVals = keys.select("rid") // bounded: exactly 4 values
        .collect().map(_.getLong(0)).toSeq
      val nChunks = (t.count() + 4095L) / 4096L
      val kept = t.filter(F.col("rid").isin(keyVals: _*))
        .queryExecution.toRdd.getNumPartitions.toLong
      // at 2-3 chunks (sf0.001) a single deterministic bloom FP in the
      // non-home chunk would fail a strict kept < nChunks; the pruning
      // contract is load-bearing only at real chunk counts (ADVICE r18)
      require(kept >= 1L &&
        (if (nChunks >= 4L) kept < nChunks else kept <= nChunks),
        s"q_avro_block_bloom: chunk blooms did not prune " +
          s"($kept of $nChunks chunks kept)")
      t.join(F.broadcast(keys.select("rid")), "rid")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum(F.floor(F.col("l_quantity") * 100).cast("long"))
            .as("qty_c"))
        .withColumn("n_chunks", F.lit(nChunks))
        .select("l_orderkey", "n_rows", "qty_c", "n_chunks")
        .orderBy("l_orderkey")
    }),

    // TRIGRAM CHUNK CELLS (r19): per-chunk blooms of every trigram of a
    // string column (`chunkTrigramFor`, tag trigram:string in
    // `_graft_blockidx`) prune CHUNKS on substring probes — the
    // file-level trigram rule at block granularity: a chunk whose cell
    // definitely lacks ANY trigram of the needle holds no match. Rows
    // carry a bucket token (md5 of l_orderkey/64), sorted by key, so a
    // contains() probe on one bucket's token is chunk-local; the gate
    // REQUIRES kept < total chunks at real chunk counts so the pruning
    // can never silently rot. Before r19 a LIKE probe on a sorted file
    // read every surviving chunk.
    "q_avro_block_trigram" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_ctrig")
      val bucket = F.floor(F.col("l_orderkey") / 64.0).cast("long")
      val txt = F.concat(F.lit("doc w"),
        F.substring(F.md5(bucket.cast("string")), 1, 10), F.lit(" body"))
      table(s, dir, "lineitem")
        .select(F.col("l_orderkey"), F.col("l_quantity"), txt.as("txt"))
        .coalesce(1).sortWithinPartitions("l_orderkey")
        .write.format("graft-avro").option("sortedBy", "l_orderkey")
        .option("chunkTrigramFor", "txt")
        .mode("overwrite").save(tmp)
      val t = s.read.format("graft-avro").load(tmp)
      // needle = the smallest key bucket's token, recomputed driver-side
      // (one bounded min) exactly as the column expression derives it
      val minB = t.agg(F.min("l_orderkey")).head().getLong(0) / 64L
      val md = java.security.MessageDigest.getInstance("MD5")
      val needle = "w" + md.digest(minB.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.take(10)
      val nChunks = (t.count() + 4095L) / 4096L
      val filtered = t.filter(F.col("txt").contains(needle))
      val kept = filtered.queryExecution.toRdd.getNumPartitions.toLong
      require(kept >= 1L &&
        (if (nChunks >= 4L) kept < nChunks else kept <= nChunks),
        s"q_avro_block_trigram: trigram chunk cells did not prune " +
          s"($kept of $nChunks chunks kept)")
      filtered.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum(F.floor(F.col("l_quantity") * 100).cast("long"))
            .as("qty_c"))
        .withColumn("n_chunks", F.lit(nChunks))
        .select("l_orderkey", "n_rows", "qty_c", "n_chunks")
        .orderBy("l_orderkey")
    }),

    // TEMPORAL TRANSFORM × TIME TRAVEL (r18): versionAsOf reads prune
    // through the `_graft_xform` ESTABLISHING stamps exactly like bucket
    // stamps — a SAME-spec re-transform truncate (re-partition under the
    // unchanged ts:day layout) preserves the stamp, so a travel read
    // below it still prunes raw-ts ranges to day segments (kept_pruned
    // = days in range, oracle-predicted via one-file-per-day writes); a
    // DIFFERENT-spec truncate (ts:month) replaces the stamp and the same
    // travel read stands down to all files (kept_standdown = total) —
    // sound, never wrong, with identical query results either way.
    // XformLayoutSpec pins the scan-builder mechanics; this gate pins
    // the user-visible path end to end under the oracle.
    "q_avro_part_days_travel" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_daytrav")
      val ev = table(s, dir, "events").select("ts", "event_type", "value")
      def cut(d: String) = java.sql.Timestamp.valueOf(d)
      val d08 = cut("2024-01-08 00:00:00")
      val d15 = cut("2024-01-15 00:00:00")
      val d22 = cut("2024-01-22 00:00:00")
      // one file per day per commit: repartition(day) puts each day in
      // exactly one task and the writer splits per segment dir
      ev.filter(F.col("ts") < d15).repartition(F.to_date(F.col("ts")))
        .write.format("graft-avro").option("transformBy", "ts:day")
        .mode("overwrite").save(tmp) // v1: days 1..14
      ev.filter(F.col("ts") >= d15 && F.col("ts") < d22)
        .repartition(F.to_date(F.col("ts")))
        .write.format("graft-avro").option("transformBy", "ts:day")
        .mode("append").save(tmp) // v2: days 15..21
      // same-spec re-transform truncate: stamp PRESERVED (spec unchanged)
      ev.filter(F.col("ts") >= d22).repartition(F.to_date(F.col("ts")))
        .write.format("graft-avro").option("transformBy", "ts:day")
        .mode("overwrite").save(tmp) // v3
      def parts(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.toRdd.getNumPartitions.toLong
      val tv2 = s.read.format("graft-avro").option("versionAsOf", 2)
        .load(tmp)
      val keptA = parts(tv2.filter(F.col("ts") >= d08 && F.col("ts") < d22))
      val totalA = parts(tv2)
      // different-spec re-transform truncate: stamp REPLACED → travel
      // pruning below it stands down
      ev.filter(F.col("ts") >= d22)
        .write.format("graft-avro").option("transformBy", "ts:month")
        .mode("overwrite").save(tmp) // v4
      val tv2b = s.read.format("graft-avro").option("versionAsOf", 2)
        .load(tmp)
      val keptB = parts(tv2b.filter(F.col("ts") >= d08 &&
        F.col("ts") < d22))
      val totalB = parts(tv2b)
      tv2b.filter(F.col("ts") >= d08 && F.col("ts") < d22)
        .groupBy(F.to_date(F.col("ts")).as("day"))
        .agg(F.count(F.lit(1)).as("n_events"),
          F.sum(F.floor(F.col("value") * 1000).cast("long")).as("value_m"))
        .withColumn("kept_pruned", F.lit(keptA))
        .withColumn("total_v2", F.lit(totalA))
        .withColumn("kept_standdown", F.lit(keptB))
        .withColumn("total_v2b", F.lit(totalB))
        .orderBy("day")
    }),

    // Grouped zero-decode COUNT over HIDDEN day-transform segments
    // (r18): `GROUP BY to_date(ts)` on a `transformBy=ts:day` table is
    // answered entirely from `ts_day=N` directory names + block-header
    // counts — the cast IS the transform (UTC epoch day), so every
    // file's whole count belongs to the group its segment names; zero
    // rows decoded (AvroGroupCountSpec pins PushedAggregation+
    // PushedGroupBy in the plan and the TZ/pre-transform stand-downs).
    // The 100 TB shape: daily row accounting on an event lake straight
    // from metadata — the query every ingest dashboard runs hourly.
    "q_avro_count_grouped_xform" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_cntx")
      table(s, dir, "events").select("ts", "event_type", "value")
        .write.format("graft-avro").option("transformBy", "ts:day")
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .groupBy(F.to_date(F.col("ts")).as("day"))
        .agg(F.count(F.lit(1)).as("n_events"))
        .orderBy("day")
    }),

    // Grouped zero-decode COUNT composing with MERGE-ON-READ positional
    // deletes: a MoR range DELETE turns into `_graft_posdel` positions,
    // and the grouped count still serves from block headers with each
    // file's dead rows subtracted from ITS group (positions are
    // per-file, every split of a file shares the partition key —
    // AvroGroupCountSpec pins the plan). The 100 TB shape: per-partition
    // row accounting stays metadata-only even while sparse row-level
    // deletes accumulate between compactions.
    "q_avro_count_grouped_del" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .createOrReplaceTempView("ord_src_cgd")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.cgd")
      s.sql("CREATE TABLE graft_gate.gate.cgd " +
        "(o_orderkey BIGINT NOT NULL, o_orderpriority STRING) " +
        "PARTITIONED BY (o_orderpriority)")
      s.sql("INSERT INTO graft_gate.gate.cgd SELECT * FROM ord_src_cgd")
      s.sql("CALL graft_gate.system.set_row_level_mode('gate.cgd', " +
        "'merge-on-read')")
      // scattered mod predicate: zone-undecidable per file ⇒ the MoR
      // delta path records positions, no file rewritten
      s.sql("DELETE FROM graft_gate.gate.cgd WHERE o_orderkey % 10 = 3")
      s.sql("""SELECT o_orderpriority, count(*) AS n_orders
              |FROM graft_gate.gate.cgd
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    }),

    // Grouped metadata MIN/MAX under the oracle: per-partition extremes
    // + counts fold from per-file col-zone bounds and block headers —
    // zero rows decoded (AvroGroupStatsSpec pins the plan and the
    // stand-downs). The per-partition Iceberg-manifest stats query as a
    // plain GROUP BY, at any table size.
    "q_avro_minmax_grouped" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_mmg")
      table(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .write.format("graft-avro")
        .option("partitionBy", "o_orderpriority")
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .groupBy("o_orderpriority")
        .agg(F.min("o_orderkey").as("min_okey"),
          F.max("o_orderkey").as("max_okey"),
          F.count(F.lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // Grouped metadata MIN/MAX under POSITIONAL DELETES (r19): a MoR
    // DELETE leaves posdel sidecars on the files of ONE partition; the
    // grouped stats hybrid keeps serving — clean partitions' files fold
    // zero-decode cells, the dirty files re-scan as per-file
    // (keys, partial MIN/MAX, surviving count) rows under the overlay,
    // Spark merges per key (AvroGroupStatsSpec pins the plan shape and
    // that ONLY dirty files decode). Before r19 any posdel stood the
    // whole grouped-stats path down — every per-partition stats query
    // on a MoR table decoded everything.
    "q_avro_minmax_grouped_posdel" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .createOrReplaceTempView("ord_src_mmgp")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mmgp")
      s.sql("CREATE TABLE graft_gate.gate.mmgp " +
        "(o_orderkey BIGINT NOT NULL, o_orderpriority STRING) " +
        "PARTITIONED BY (o_orderpriority)")
      s.sql("INSERT INTO graft_gate.gate.mmgp SELECT * FROM ord_src_mmgp")
      s.sql("CALL graft_gate.system.set_row_level_mode('gate.mmgp', " +
        "'merge-on-read')")
      // scattered mod predicate restricted to ONE partition: the MoR
      // delta records positions on just that partition's files — the
      // others stay clean and keep their zero-decode cells
      s.sql("DELETE FROM graft_gate.gate.mmgp " +
        "WHERE o_orderkey % 10 = 3 AND o_orderpriority = '1-URGENT'")
      s.sql("""SELECT o_orderpriority,
              |       min(o_orderkey) AS min_okey,
              |       max(o_orderkey) AS max_okey,
              |       count(*) AS n_orders
              |FROM graft_gate.gate.mmgp
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    }),

    // r20: grouped SUM/COUNT(col) keep PushedAggregation under
    // positional deletes — the r19 MIN/MAX hybrid extended to the full
    // mix: clean partitions' files fold `sum:`/`cnt:` zero-decode
    // cells, the dirty partition's files re-scan as per-file
    // (keys, addExact sum, non-null count, surviving rows) partials
    // under the overlay (AvroGroupStatsSpec pins only-dirty-files-
    // decode). Before r20 ANY SUM in the mix stood the whole grouped
    // path down the moment a MoR DELETE landed.
    "q_avro_sum_grouped_posdel" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .createOrReplaceTempView("ord_src_sgp")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.sgp")
      s.sql("CREATE TABLE graft_gate.gate.sgp " +
        "(o_orderkey BIGINT NOT NULL, o_orderpriority STRING) " +
        "PARTITIONED BY (o_orderpriority)")
      s.sql("INSERT INTO graft_gate.gate.sgp SELECT * FROM ord_src_sgp")
      s.sql("CALL graft_gate.system.set_row_level_mode('gate.sgp', " +
        "'merge-on-read')")
      s.sql("DELETE FROM graft_gate.gate.sgp " +
        "WHERE o_orderkey % 10 = 3 AND o_orderpriority = '2-HIGH'")
      s.sql("""SELECT o_orderpriority,
              |       sum(o_orderkey) AS sum_okey,
              |       count(o_orderkey) AS n_okey,
              |       min(o_orderkey) AS min_okey,
              |       count(*) AS n_orders
              |FROM graft_gate.gate.sgp
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    }),

    // CDC changes read under the oracle: three generations (append,
    // append, overwrite), then the NET row diff v1 -> v3 as
    // insert/delete-tagged rows — the Iceberg table_changes shape
    // (AvroChangesSpec pins the guards: changed equality deletes and
    // pending posdel refuse, intra-range churn nets out). The 100 TB
    // shape: downstream sync reads exactly the delta files, never the
    // unchanged bulk.
    "q_avro_cdc_read" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_cdc")
      val li = table(s, dir, "lineitem")
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_returnflag"), F.col("l_quantity"))
      li.filter("okey <= 300")
        .write.format("graft-avro").mode("overwrite").save(tmp) // v1
      li.filter("okey > 300 AND okey <= 600")
        .write.format("graft-avro").mode("append").save(tmp) // v2
      li.filter("okey > 600") // the bulk of the table: write in parallel
        .repartition(s.sparkContext.defaultParallelism)
        .write.format("graft-avro").mode("overwrite").save(tmp) // v3
      graft.sources.AvroMaintenance.changes(s, tmp, 1L, 3L)
        .withColumnRenamed("_change_type", "change_type")
        .groupBy("change_type", "l_returnflag")
        .agg(F.count(F.lit(1)).as("n_lines"),
          F.round(F.sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("change_type", "l_returnflag")
    }),

    // Metadata-served SUM/COUNT(col)/AVG under the oracle: per-file
    // exact sums + non-null counts ride the col-zone manifest under a
    // `sum:` type tag, and the whole aggregate mix folds driver-side —
    // zero rows decoded (AvroSumMetaSpec pins the plan, the ANSI
    // overflow stand-down, and NULL semantics). The 100 TB shape: a
    // petabyte fact table's SUM/AVG answered from one manifest read.
    "q_avro_sum_meta" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_summ")
      table(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
        .write.format("graft-avro").mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .agg(F.sum("l_orderkey").as("sum_okey"),
          F.count("l_orderkey").as("n_okey"),
          F.sum("l_linenumber").as("sum_line"),
          F.min("l_orderkey").as("min_okey"),
          F.max("l_orderkey").as("max_okey"),
          F.count(F.lit(1)).as("n_rows"))
    }),

    // Filtered variant: every filter zone-DECIDED means kept files
    // all-match, so their full-file sum/bound cells ARE matching-row
    // stats — the driver fold restricts to the keep-set and a filtered
    // SUM/MIN/MAX/COUNT mix still decodes zero rows (AvroSumMetaSpec
    // pins keep-set exactness and the residual-filter stand-down).
    "q_avro_sum_filtered" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_sumf")
      val li = table(s, dir, "lineitem")
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_linenumber"))
      li.filter("okey <= 600")
        .write.format("graft-avro").mode("overwrite").save(tmp)
      li.filter("okey > 600")
        .write.format("graft-avro").mode("append").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .filter("okey > 600")
        .agg(F.sum("okey").as("sum_okey"),
          F.min("okey").as("min_okey"),
          F.max("okey").as("max_okey"),
          F.sum("l_linenumber").as("sum_line"),
          F.count(F.lit(1)).as("n_rows"))
    }),

    // Metadata-served MIN/MAX UNDER decided filters, across columns:
    // when every live file is zone- or partition-DECIDED for the
    // filter, each kept file all-matches, so its full-file bounds of
    // ANY column are its matching-row bounds — the fold restricts to
    // the keep-set and the scan opens zero data files. Two flavors in
    // one gate: a hive-partition-decided filter serving min/max of a
    // DIFFERENT column, and a zone-decided range filter serving
    // min/max of a column orthogonal to the filter.
    "q_avro_minmax_filtered" -> ((s, dir) => {
      val tmpP = tempDir("graft_gate_mmf_part")
      table(s, dir, "orders")
        .select(F.coalesce(F.col("o_orderkey"), F.lit(0L)).as("okey"),
          F.col("o_orderpriority"))
        .write.format("graft-avro")
        .option("partitionBy", "o_orderpriority")
        .mode("overwrite").save(tmpP)
      val tmpZ = tempDir("graft_gate_mmf_zone")
      val li = table(s, dir, "lineitem")
        // zone decisions need a non-nullable filter column (bounds
        // cover non-null values only); coalesce restores the metadata
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_linenumber"))
      // boundary 600 is interior at EVERY SF (sf0.001 keys reach 1499)
      li.filter(F.col("okey") <= 600).coalesce(1)
        .write.format("graft-avro").mode("overwrite").save(tmpZ)
      li.filter(F.col("okey") > 600).coalesce(1)
        .write.format("graft-avro").mode("append").save(tmpZ)
      val mmPart = s.read.format("graft-avro").load(tmpP)
        .filter(F.col("o_orderpriority") === "1-URGENT")
        .agg(F.min("okey").as("min_p"), F.max("okey").as("max_p"))
      val mmZone = s.read.format("graft-avro").load(tmpZ)
        .filter(F.col("okey") > 600)
        .agg(F.min("l_linenumber").as("min_line"),
          F.max("l_linenumber").as("max_line"),
          F.max("okey").as("max_okey"))
      mmPart.crossJoin(mmZone)
    }),

    // HYBRID metadata MIN/MAX under POSITIONAL deletes: the posdel
    // sidecar used to stand the zero-decode aggregate path down
    // wholesale; now manifest cells fold over the posdel-free files
    // and only the dirty file re-scans under the overlay — a dead row
    // can never serve an extreme (the deleted rows here ARE the dirty
    // generation's extremes, so a naive cell fold would be wrong).
    // MinMaxPosdelSpec pins PushedAggregation staying in the plan.
    "q_avro_minmax_posdel" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_mmpd")
      val docs = table(s, dir, "documents").select("doc_id", "lang")
      docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) === 0)
        .coalesce(1).sortWithinPartitions("doc_id")
        .write.format("graft-avro").mode("overwrite").save(tmp)
      docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) === 1)
        .coalesce(1).sortWithinPartitions("doc_id")
        .write.format("graft-avro").mode("append").save(tmp)
      // the odd generation's file: positions are doc_id ranks (one
      // sorted file); kill its first and last ordinal = the smallest
      // and largest ODD doc_id — exactly what the oracle re-derives
      val d = new java.io.File(tmp)
      val base = d.getAbsoluteFile.toPath
      val relB = s.read.format("graft-avro").load(tmp)
        .filter(F.pmod(F.col("doc_id"), F.lit(2)) === 1)
        .select(F.col(graft.sources.AvroFileSource.MetaFile))
        .head().getString(0)
      val nB = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) === 1).count()
      graft.sources.AvroMaintenance.deleteAtPositions(tmp, relB,
        Seq(0L, nB - 1))
      s.read.format("graft-avro").load(tmp)
        .agg(F.min("doc_id").as("mn_id"), F.max("doc_id").as("mx_id"),
          F.min("lang").as("mn_lang"), F.max("lang").as("mx_lang"))
    }),

    // Vector-payload scan under the oracle: the embeddings table
    // (array<float>[64]) round-trips through graft-avro and aggregates
    // per label — this exercises the r18 columnar ARRAY decode path
    // end-to-end (elements into child vectors, slices on the parent;
    // ColumnarDecodeSpec pins plan + row-path equality). Floats go
    // through CAST(double) * 1000 -> floor -> BIGINT on both engines
    // (IEEE-exact, the cross-engine float rule).
    "q_avro_array_scan" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_arr")
      table(s, dir, "embeddings")
        .write.format("graft-avro").mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .groupBy("label")
        .agg(F.count(F.lit(1)).as("n_vecs"),
          F.sum(F.size(F.col("embedding")).cast("long")).as("n_elems"),
          F.sum(F.floor(F.element_at(F.col("embedding"), 1).cast("double")
            * 1000)).as("e1_m"))
        .orderBy("label")
    }),

    // Declarative layout properties under the oracle: CREATE TABLE
    // TBLPROPERTIES('graft.sortedBy','graft.requestSort') makes a plain
    // SQL INSERT (which cannot pass writer options) produce the
    // verified sorted layout — the min/max answers then serve from the
    // zone manifest and range predicates prune files
    // (TablePropsSpec pins marker/manifest/override semantics). The
    // 100 TB shape: layout is a TABLE declaration, not a per-job flag
    // every writer must remember.
    "q_avro_table_props" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "orders")
        .select(F.coalesce(F.col("o_orderkey"), F.lit(0L)).as("okey"),
          F.col("o_orderpriority"))
        .createOrReplaceTempView("ord_src_props")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.props")
      s.sql("""CREATE TABLE graft_gate.gate.props
              |  (okey BIGINT NOT NULL, o_orderpriority STRING)
              |  TBLPROPERTIES ('graft.sortedBy' = 'okey',
              |    'graft.requestSort' = 'true')""".stripMargin)
      // deliberately scrambled insert order — the property sorts it
      s.sql("INSERT INTO graft_gate.gate.props " +
        "SELECT * FROM ord_src_props ORDER BY md5(cast(okey as string))")
      s.sql("""SELECT min(okey) AS min_okey, max(okey) AS max_okey,
              |  (SELECT count(*) FROM graft_gate.gate.props
              |   WHERE okey <= 100) AS n_low
              |FROM graft_gate.gate.props""".stripMargin)
    }),

    // INDEX INTROSPECTION metadata table (r20): `cat.ns.tbl.stats`
    // lists per-column sidecar coverage — zone bounds, null/sum cells,
    // blooms, trigrams, NDV, block-range chunk index, per-chunk
    // bloom/trigram cells, row counts, the verified-sort claim — as
    // (kind, name, detail, n_files, n_live) rows. Two appends of
    // deterministic size (nation³ cross products, SF-independent): the
    // big file exceeds the 4096-row chunk threshold so chunk-level
    // sidecars cover 1 of 2 files while file-level ones cover 2 of 2 —
    // the "why didn't this prune" debugging view, with coverage
    // fractions pinned by the oracle.
    "q_avro_stats_table" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.stt")
      s.sql("""CREATE TABLE graft_gate.gate.stt
              |  (k BIGINT NOT NULL, v BIGINT NOT NULL, s STRING)
              |  TBLPROPERTIES ('graft.sortedBy' = 'k',
              |    'graft.bloomFor' = 'v', 'graft.trigramFor' = 's',
              |    'graft.ndvFor' = 'k', 'graft.chunkBloomFor' = 'v',
              |    'graft.chunkTrigramFor' = 's')""".stripMargin)
      val a = table(s, dir, "nation")
        .select(F.col("n_nationkey").as("ka"), F.col("n_name").as("na"))
      val b = table(s, dir, "nation")
        .select(F.col("n_nationkey").as("kb"), F.col("n_name").as("nb"))
      val i16 = s.range(0, 16).toDF("i")
      // 25 * 25 * 16 = 10000 rows -> 3 forced-sync chunks in one file
      a.crossJoin(b).crossJoin(i16)
        .select(
          (F.col("ka").cast("long") * 400 + F.col("kb") * 16 +
            F.col("i")).as("k"))
        .select(F.col("k"), F.pmod(F.col("k") * 7, F.lit(97)).as("v"),
          F.concat(F.lit("g"), (F.col("k") % 50).cast("string")).as("s"))
        .coalesce(1).sortWithinPartitions("k")
        .writeTo("graft_gate.gate.stt").append()
      // 25 rows -> single chunk: file-level sidecars cover it, chunk-
      // level ones don't
      a.select((F.col("ka").cast("long") + 10000).as("k"),
          F.col("ka").cast("long").as("v"),
          F.concat(F.lit("h"), F.col("na")).as("s"))
        .coalesce(1).sortWithinPartitions("k")
        .writeTo("graft_gate.gate.stt").append()
      s.sql("""SELECT kind, name, detail, n_files, n_live
              |FROM graft_gate.gate.stt.stats
              |ORDER BY kind, name, detail""".stripMargin)
    }),

    // DECIMAL bloom/bucket eligibility (r20): a DECIMAL(12,2)-keyed
    // table bloom-prunes under a static IN probe with MIXED-SCALE
    // literals — the canonical identity is the scale-normalized plain
    // form, so 12.5, 100.25 and 250 all hit the writer's hashes
    // (BloomSkipSpec/BucketLayoutSpec pin the pruning counts; this
    // gate pins end-to-end answers over real l_extendedprice decimals
    // under the oracle).
    "q_avro_bloom_decimal" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_decbloom")
      table(s, dir, "lineitem")
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_extendedprice"))
        .withColumn("price",
          F.expr("CAST((okey % 400) * 1.25 AS DECIMAL(12,2))"))
        .withColumn("ext",
          F.expr("CAST(l_extendedprice AS DECIMAL(12,2))"))
        .repartition(8, F.col("price"))
        .write.format("graft-avro").option("bloomFor", "price")
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .filter(F.expr(
          "price IN (CAST(12.5 AS DECIMAL(3,1)), " +
            "CAST(100.25 AS DECIMAL(12,2)), CAST(250 AS DECIMAL(5,0)))"))
        .groupBy(F.expr("CAST(price * 100 AS BIGINT)").as("price_c"))
        .agg(F.count(F.lit(1)).as("n_lines"),
          F.expr("CAST(sum(CAST(ext * 100 AS BIGINT)) AS BIGINT)")
            .as("ext_c"))
        .orderBy("price_c")
    }),

    // TIMESTAMP bloom eligibility (r20): event-time point lookups — a
    // timestamp-keyed table bloom-prunes under an IN probe (canonical
    // identity = epoch micros, TZ-independent; BloomSkipSpec/
    // BucketLayoutSpec pin pruning counts + writer/SQL-fn agreement).
    // One probe instant is absent by construction, exercising the
    // prune-everything path; answers pinned by the oracle.
    "q_avro_bloom_ts" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_tsbloom")
      table(s, dir, "lineitem")
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_quantity"))
        .withColumn("tsk", F.expr(
          "timestamp'2024-01-01 00:00:00' + " +
            "make_interval(0,0,0,0,0, CAST(okey % 400 AS INT), 0)"))
        .repartition(8, F.col("tsk"))
        .write.format("graft-avro").option("bloomFor", "tsk")
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .filter(F.expr(
          "tsk IN (timestamp'2024-01-01 00:12:00', " +
            "timestamp'2024-01-01 03:20:00', " +
            "timestamp'2024-01-01 23:00:00')"))
        .groupBy(F.expr("unix_micros(tsk)").as("ts_us"))
        .agg(F.count(F.lit(1)).as("n_lines"),
          F.expr("CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) " +
            "AS BIGINT)").as("qty_c"))
        .orderBy("ts_us")
    }),

    // Map-column scan under the oracle: a string-keyed map column
    // round-trips through graft-avro (r18 columnar map decode: keys/
    // values child vectors, shared slice) and element_at aggregates
    // reproduce the flat computation exactly.
    "q_avro_map_scan" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_map")
      table(s, dir, "lineitem")
        .select(F.col("l_returnflag"),
          F.map(
            F.lit("qty"), F.floor(F.col("l_quantity") * 100).cast("long"),
            F.lit("tax"), F.floor(F.col("l_tax") * 1000).cast("long"))
            .as("m"))
        .repartition(s.sparkContext.defaultParallelism)
        .write.format("graft-avro").mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n_lines"),
          F.sum(F.element_at(F.col("m"), "qty")).as("qty_c"),
          F.sum(F.element_at(F.col("m"), "tax")).as("tax_m"),
          F.sum(F.size(F.col("m")).cast("long")).as("n_entries"))
        .orderBy("l_returnflag")
    }),

    // Partition overwrite under the oracle: INSERT OVERWRITE
    // PARTITION (flag = 'R') replaces exactly that partition's files
    // (archive, no rewrite of the others) via the filter-overwrite
    // path; untouched partitions and time travel hold
    // (PartitionOverwriteSpec also pins dynamic mode + posdel
    // survival). The 100 TB shape: the daily partition rewrite that
    // never touches the rest of the table.
    "q_avro_overwrite_part" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "lineitem")
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_quantity"), F.col("l_returnflag"))
        .repartition(s.sparkContext.defaultParallelism)
        .createOrReplaceTempView("li_src_pow")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.pow")
      s.sql("""CREATE TABLE graft_gate.gate.pow
              |  (okey BIGINT, l_quantity DOUBLE, l_returnflag STRING)
              |  PARTITIONED BY (l_returnflag)""".stripMargin)
      s.sql("INSERT INTO graft_gate.gate.pow SELECT * FROM li_src_pow")
      s.sql("""INSERT OVERWRITE graft_gate.gate.pow
              |  PARTITION (l_returnflag = 'R')
              |  SELECT okey, l_quantity + 100
              |  FROM li_src_pow WHERE l_returnflag = 'R'""".stripMargin)
      s.sql("""SELECT l_returnflag, count(*) AS n_lines,
              |  round(sum(l_quantity), 2) AS sum_qty
              |FROM graft_gate.gate.pow
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // ANALYZE backfill under the oracle: the stats manifests are
    // dropped (simulating a pre-stats legacy table), CALL-equivalent
    // analyze rebuilds them in one distributed pass through the SAME
    // per-file builders the writer uses, and the aggregate mix serves
    // from metadata again with oracle-exact values (AvroAnalyzeSpec
    // pins the plan flips, bloom backfill, and delete-agnosticism).
    // The 100 TB shape: light up pruning + metadata answers on a
    // petabyte of pre-existing files without rewriting a byte.
    "q_avro_analyze" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_anl")
      table(s, dir, "orders").select("o_orderkey", "o_custkey")
        .write.format("graft-avro").mode("overwrite").save(tmp)
      graft.sources.AvroFileSource.colZoneFile(new java.io.File(tmp)).delete()
      graft.sources.AvroFileSource.rowsFile(new java.io.File(tmp)).delete()
      graft.sources.AvroMaintenance.analyze(s, tmp)
      s.read.format("graft-avro").load(tmp)
        .agg(F.sum("o_orderkey").as("sum_okey"),
          F.min("o_orderkey").as("min_okey"),
          F.max("o_orderkey").as("max_okey"),
          F.sum("o_custkey").as("sum_ckey"),
          F.count(F.lit(1)).as("n_rows"))
    }),

    // Grouped variant: per-partition SUM/COUNT partial cells resolved
    // at pushdown, folded by Spark's final aggregate — the Iceberg
    // per-partition accounting query extended from counts to sums.
    "q_avro_sum_grouped" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_sumg")
      table(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .write.format("graft-avro")
        .option("partitionBy", "o_orderpriority")
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .groupBy("o_orderpriority")
        .agg(F.sum("o_orderkey").as("sum_okey"),
          F.count("o_orderkey").as("n_okey"),
          F.count(F.lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // Zone-decided RANGE DELETE under the oracle: two disjoint-keyrange
    // generations, then `DELETE WHERE okey > 600` — every gen-2 file
    // all-matches (zones prove it) and every gen-1 file none-matches,
    // so the delete is pure metadata: all-match files archive out, no
    // rewrite (AvroZoneDecideSpec pins untouched survivor bytes and the
    // rewrite fallback for undecided predicates). The Iceberg
    // drop-partition shape generalized to any zone-clustered column.
    "q_avro_delete_ranged" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "lineitem")
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_quantity"), F.col("l_returnflag"))
        .repartition(s.sparkContext.defaultParallelism)
        .createOrReplaceTempView("li_src_dlr")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.dlr")
      s.sql("CREATE TABLE graft_gate.gate.dlr " +
        "(okey BIGINT NOT NULL, l_quantity DOUBLE, l_returnflag STRING)")
      s.sql("INSERT INTO graft_gate.gate.dlr " +
        "SELECT * FROM li_src_dlr WHERE okey <= 600")
      s.sql("INSERT INTO graft_gate.gate.dlr " +
        "SELECT * FROM li_src_dlr WHERE okey > 600")
      s.sql("DELETE FROM graft_gate.gate.dlr WHERE okey > 600")
      s.sql("""SELECT l_returnflag, count(*) AS n_lines,
              |  round(sum(l_quantity), 2) AS sum_qty
              |FROM graft_gate.gate.dlr
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // MERGE-ON-READ row-level DELETE under the oracle: with
    // `_graft_rowlevel` = merge-on-read, a DELETE whose predicate is
    // neither equality-translatable nor zone-decided writes POSITION
    // deletes (SupportsDelta) instead of rewriting every matched file —
    // O(deleted rows) metadata, data files byte-untouched
    // (AvroMorDeltaSpec pins that). The 100 TB shape: a sparse
    // compliance delete on a petabyte table costs megabytes, not a
    // petabyte rewrite.
    "q_avro_delete_mor" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "lineitem")
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_quantity"), F.col("l_returnflag"))
        .repartition(s.sparkContext.defaultParallelism)
        .createOrReplaceTempView("li_src_mord")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mord")
      s.sql("CREATE TABLE graft_gate.gate.mord " +
        "(okey BIGINT NOT NULL, l_quantity DOUBLE, l_returnflag STRING)")
      s.sql("INSERT INTO graft_gate.gate.mord SELECT * FROM li_src_mord")
      s.sql("CALL graft_gate.system.set_row_level_mode('gate.mord', " +
        "'merge-on-read')")
      s.sql("DELETE FROM graft_gate.gate.mord WHERE okey % 7 = 3")
      s.sql("""SELECT l_returnflag, count(*) AS n_lines,
              |  round(sum(l_quantity), 2) AS sum_qty
              |FROM graft_gate.gate.mord
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // MERGE-ON-READ UPDATE under the oracle: delete+insert pairing —
    // matched rows die positionally, replacements append as new files;
    // untouched files never rewrite (AvroMorDeltaSpec). Predicate and
    // arithmetic kept integer-exact-on-doubles (+100) so both engines
    // agree bit-for-bit after round(sum, 2).
    "q_avro_update_mor" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "lineitem")
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_quantity"), F.col("l_returnflag"))
        .repartition(s.sparkContext.defaultParallelism)
        .createOrReplaceTempView("li_src_moru")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.moru")
      s.sql("CREATE TABLE graft_gate.gate.moru " +
        "(okey BIGINT NOT NULL, l_quantity DOUBLE, l_returnflag STRING)")
      s.sql("INSERT INTO graft_gate.gate.moru SELECT * FROM li_src_moru")
      s.sql("CALL graft_gate.system.set_row_level_mode('gate.moru', " +
        "'merge-on-read')")
      s.sql("UPDATE graft_gate.gate.moru SET l_quantity = " +
        "l_quantity + 100 WHERE okey % 11 = 5")
      s.sql("""SELECT l_returnflag, count(*) AS n_lines,
              |  round(sum(l_quantity), 2) AS sum_qty
              |FROM graft_gate.gate.moru
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // STREAMING UPSERT into a MERGE-ON-READ table: the q_stream_merge
    // ingestion loop re-expressed through SQL MERGE INTO on a
    // merge-on-read catalog table — each micro-batch's matched rows die
    // POSITIONALLY (including rows appended by earlier batches) and
    // replacements append; no file is ever rewritten across the whole
    // run (AvroMorDeltaSpec pins the mechanics). Update batches carry
    // DISJOINT key sets so the final state is arrival-order-independent.
    // The 100 TB shape: continuous CDC-apply whose write amplification
    // is O(changed rows) per batch, not O(files touched).
    // END-TO-END CDC REPLICATION: the change feed of a churning source
    // table (append, append, full-churn overwrite) drives a
    // merge-on-read TARGET via foreachBatch MERGE — each micro-batch
    // (one source version, rate-limited) folds to one net event per
    // key (latest version wins; insert outranks delete within a
    // version, since the delete names the OLD file's row) and applies
    // as delete/update/insert. The replicated target must equal the
    // source's LIVE content exactly — the canonical CDC mirror loop.
    "q_avro_cdc_replicate" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      val src = tempDir("graft_gate_cdcrep_src")
      val ckpt = tempDir("graft_gate_cdcrep_ckpt")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars")
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 0)
        .write.format("graft-avro").mode("overwrite").save(src) // v1
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 1)
        .write.format("graft-avro").mode("append").save(src) // v2
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 2)
        .write.format("graft-avro").mode("overwrite").save(src) // v3
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.cdcrep")
      s.sql("CREATE TABLE graft_gate.gate.cdcrep " +
        "(doc_id BIGINT NOT NULL, lang STRING, n_chars INT)")
      s.sql("CALL graft_gate.system.set_row_level_mode('gate.cdcrep', " +
        "'merge-on-read')")
      val q = s.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1") // one version per MERGE
        .load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          b.createOrReplaceTempView("cdcrep_feed")
          b.sparkSession.sql(
            """MERGE INTO graft_gate.gate.cdcrep t USING (
              |  SELECT doc_id, lang, n_chars, _change_type FROM (
              |    SELECT *, row_number() OVER (PARTITION BY doc_id
              |      ORDER BY _commit_version DESC,
              |        CASE _change_type WHEN 'insert' THEN 1 ELSE 0 END
              |          DESC) AS rn
              |    FROM cdcrep_feed) WHERE rn = 1) u
              |ON t.doc_id = u.doc_id
              |WHEN MATCHED AND u._change_type = 'delete' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET lang = u.lang,
              |  n_chars = u.n_chars
              |WHEN NOT MATCHED AND u._change_type = 'insert' THEN
              |  INSERT (doc_id, lang, n_chars)
              |  VALUES (u.doc_id, u.lang, u.n_chars)
              |""".stripMargin)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.sql("""SELECT lang, count(*) AS n_docs,
              |  CAST(sum(n_chars) AS BIGINT) AS chars
              |FROM graft_gate.gate.cdcrep
              |GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // The replication loop SURVIVING row-level mutations: a deleteWhere
    // lands mid-history, the CDC feed serves it as delete rows, and the
    // MERGE mirror folds to the source's live multiset — the end-to-end
    // proof that routine deletes no longer break the flagship loop. The
    // post-delete append's English rows stay alive on BOTH sides (stamp
    // gating replays exactly).
    "q_avro_cdc_replicate_del" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      val src = tempDir("graft_gate_cdcrd_src")
      val ckpt = tempDir("graft_gate_cdcrd_ckpt")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars")
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 0)
        .write.format("graft-avro").mode("overwrite").save(src) // v1
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 1)
        .write.format("graft-avro").mode("append").save(src) // v2
      graft.sources.AvroMaintenance.deleteWhere(s, src, "lang",
        Seq("en")) // v3: row-level mutation mid-history
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 2)
        .write.format("graft-avro").mode("append").save(src) // v4
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.cdcrd")
      s.sql("CREATE TABLE graft_gate.gate.cdcrd " +
        "(doc_id BIGINT NOT NULL, lang STRING, n_chars INT)")
      s.sql("CALL graft_gate.system.set_row_level_mode('gate.cdcrd', " +
        "'merge-on-read')")
      val q = s.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1") // one version per MERGE
        .load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          b.createOrReplaceTempView("cdcrd_feed")
          b.sparkSession.sql(
            """MERGE INTO graft_gate.gate.cdcrd t USING (
              |  SELECT doc_id, lang, n_chars, _change_type FROM (
              |    SELECT *, row_number() OVER (PARTITION BY doc_id
              |      ORDER BY _commit_version DESC,
              |        CASE _change_type WHEN 'insert' THEN 1 ELSE 0 END
              |          DESC) AS rn
              |    FROM cdcrd_feed) WHERE rn = 1) u
              |ON t.doc_id = u.doc_id
              |WHEN MATCHED AND u._change_type = 'delete' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET lang = u.lang,
              |  n_chars = u.n_chars
              |WHEN NOT MATCHED AND u._change_type = 'insert' THEN
              |  INSERT (doc_id, lang, n_chars)
              |  VALUES (u.doc_id, u.lang, u.n_chars)
              |""".stripMargin)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.sql("""SELECT lang, count(*) AS n_docs,
              |  CAST(sum(n_chars) AS BIGINT) AS chars
              |FROM graft_gate.gate.cdcrd
              |GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // The round-16 flagship composition: the engine's OWN recommended
    // write path (merge-on-read SQL UPDATE/DELETE → positional deletes)
    // feeding the CDC replication loop. Posdel state journals per
    // version, so the feed serves a MoR UPDATE as delete+insert rows of
    // ONE version (the fold's insert-outranks-delete rule nets it to an
    // update) and a MoR range DELETE as pure delete rows — the mirror
    // folds to the source's live multiset with zero refusals.
    "q_avro_cdc_mor" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      val root = s.conf.get("spark.sql.catalog.graft_gate.root")
      val ckpt = tempDir("graft_gate_cdcmor_ckpt")
      val docs = table(s, dir, "documents")
        .filter(F.pmod(F.col("doc_id"), F.lit(4)) === 0)
        .select("doc_id", "lang", "n_chars")
      docs.createOrReplaceTempView("cdcmor_base")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.cdcmor")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.cdcmor_m")
      s.sql("CREATE TABLE graft_gate.gate.cdcmor " +
        "(doc_id BIGINT NOT NULL, lang STRING, n_chars BIGINT)")
      s.sql("CALL graft_gate.system.set_row_level_mode('gate.cdcmor', " +
        "'merge-on-read')")
      s.sql("INSERT INTO graft_gate.gate.cdcmor " +
        "SELECT doc_id, lang, CAST(n_chars AS BIGINT) " +
        "FROM cdcmor_base") // v1
      // v2: MoR UPDATE = positional deletes + appended replacement rows
      s.sql("UPDATE graft_gate.gate.cdcmor SET n_chars = n_chars * 10 " +
        "WHERE doc_id % 3 = 0")
      // v3: MoR range DELETE = a pure positional-delete version (the
      // non-equality predicate dodges the metadata sidecar fast path)
      s.sql("DELETE FROM graft_gate.gate.cdcmor " +
        "WHERE doc_id % 5 = 1 AND n_chars > 500")
      // v4: plain append after the mutations
      s.sql("INSERT INTO graft_gate.gate.cdcmor " +
        "SELECT doc_id + 1000000, lang, CAST(n_chars AS BIGINT) " +
        "FROM cdcmor_base WHERE doc_id % 7 = 0")
      s.sql("CREATE TABLE graft_gate.gate.cdcmor_m " +
        "(doc_id BIGINT NOT NULL, lang STRING, n_chars BIGINT)")
      s.sql("CALL graft_gate.system.set_row_level_mode('gate.cdcmor_m', " +
        "'merge-on-read')")
      val srcDir = s"$root/gate/cdcmor"
      val q = s.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1") // one version per MERGE
        .load(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          b.createOrReplaceTempView("cdcmor_feed")
          b.sparkSession.sql(
            """MERGE INTO graft_gate.gate.cdcmor_m t USING (
              |  SELECT doc_id, lang, n_chars, _change_type FROM (
              |    SELECT *, row_number() OVER (PARTITION BY doc_id
              |      ORDER BY _commit_version DESC,
              |        CASE _change_type WHEN 'insert' THEN 1 ELSE 0 END
              |          DESC) AS rn
              |    FROM cdcmor_feed) WHERE rn = 1) u
              |ON t.doc_id = u.doc_id
              |WHEN MATCHED AND u._change_type = 'delete' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET lang = u.lang,
              |  n_chars = u.n_chars
              |WHEN NOT MATCHED AND u._change_type = 'insert' THEN
              |  INSERT (doc_id, lang, n_chars)
              |  VALUES (u.doc_id, u.lang, u.n_chars)
              |""".stripMargin)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.sql("""SELECT lang, count(*) AS n_docs,
              |  CAST(sum(n_chars) AS BIGINT) AS chars
              |FROM graft_gate.gate.cdcmor_m
              |GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    "q_stream_upsert_mor" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      val src = tempDir("graft_gate_smor_src")
      val ckpt = tempDir("graft_gate_smor_ckpt")
      val docs = table(s, dir, "documents")
        .select(F.coalesce(F.col("doc_id"), F.lit(0L)).as("doc_id"),
          F.col("lang"), F.col("n_chars"))
      docs.withColumn("ver", F.lit(0L))
        .createOrReplaceTempView("smor_base")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.smor")
      s.sql("CREATE TABLE graft_gate.gate.smor (doc_id BIGINT NOT NULL, " +
        "lang STRING, n_chars BIGINT, ver BIGINT)")
      s.sql("INSERT INTO graft_gate.gate.smor SELECT * FROM smor_base")
      s.sql("CALL graft_gate.system.set_row_level_mode('gate.smor', " +
        "'merge-on-read')")
      val u1 = docs.filter(F.col("doc_id") % 3 === 0)
        .withColumn("n_chars", F.col("n_chars") * 10)
        .withColumn("ver", F.lit(1L))
      val u2 = docs.filter(F.col("doc_id") % 3 === 1)
        .withColumn("n_chars", F.col("n_chars") * 100)
        .withColumn("ver", F.lit(2L))
      val u3 = docs.filter(F.col("doc_id") % 5 === 0)
        .withColumn("doc_id", F.col("doc_id") + 10000)
        .withColumn("ver", F.lit(3L))
      Seq(u1, u2, u3).foreach(
        _.repartition(1).write.mode("append").parquet(src))
      val q = s.readStream.schema(u1.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          b.createOrReplaceTempView("smor_up")
          b.sparkSession.sql(
            """MERGE INTO graft_gate.gate.smor t USING smor_up u
              |ON t.doc_id = u.doc_id
              |WHEN MATCHED THEN UPDATE SET lang = u.lang,
              |  n_chars = u.n_chars, ver = u.ver
              |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars, ver)
              |  VALUES (u.doc_id, u.lang, u.n_chars, u.ver)
              |""".stripMargin)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.sql("""SELECT ver, count(*) AS n_docs,
              |  sum(n_chars) AS chars,
              |  count(DISTINCT lang) AS n_langs
              |FROM graft_gate.gate.smor
              |GROUP BY ver ORDER BY ver""".stripMargin)
    }),

    // JOIN matview under the oracle: V = orders ⋈ customer maintained
    // incrementally from BOTH sides' appends by the delta-join
    // expansion ΔV = ΔL⋈R_new ∪ L_old⋈ΔR (version-pinned reads; the
    // ΔL⋈ΔR cross term rides in the first term). Both sources move
    // before ONE refresh, so all three delta terms are exercised; the
    // oracle is the full join over the complete parquet tables — any
    // dropped or double-counted delta row breaks the hash. The 100 TB
    // shape: refresh work is O(delta ⋈ …), never a re-join of two fact
    // tables (MatviewSpec pins the algebra and the loud non-additive
    // failure).
    "q_avro_matview_join" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .createOrReplaceTempView("ord_src_mvj")
      table(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .createOrReplaceTempView("cust_src_mvj")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mvj")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mvjord")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mvjcust")
      s.sql("CREATE TABLE graft_gate.gate.mvjord AS " +
        "SELECT * FROM ord_src_mvj WHERE o_orderkey % 2 = 0") // L v1
      s.sql("CREATE TABLE graft_gate.gate.mvjcust AS " +
        "SELECT * FROM cust_src_mvj WHERE c_custkey % 2 = 0") // R v1
      s.sql("""CALL graft_gate.system.create_join_matview('gate.mvj',
              |  'gate.mvjord', 'gate.mvjcust',
              |  'SELECT o_orderkey, o_custkey, o_orderpriority,
              |     c_mktsegment
              |   FROM __L__ JOIN __R__ ON o_custkey = c_custkey')"""
        .stripMargin)
      // both sides move before one refresh
      s.sql("INSERT INTO graft_gate.gate.mvjord " +
        "SELECT * FROM ord_src_mvj WHERE o_orderkey % 2 = 1") // L v2
      s.sql("INSERT INTO graft_gate.gate.mvjcust " +
        "SELECT * FROM cust_src_mvj WHERE c_custkey % 2 = 1") // R v2
      s.sql("CALL graft_gate.system.refresh_join_matview('gate.mvj')")
      s.sql("""SELECT c_mktsegment, o_orderpriority,
              |  count(*) AS n_orders,
              |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
              |FROM graft_gate.gate.mvj
              |GROUP BY c_mktsegment, o_orderpriority
              |ORDER BY c_mktsegment, o_orderpriority""".stripMargin)
    }),

    // COUNTING JOIN MATVIEW THROUGH DELETES (r19): the view stores each
    // join-result row with its multiplicity (_mv_n); refresh folds the
    // SIGNED CDC deltas of both sides (insert +1 / delete −1, joined at
    // pinned versions via the bilinear delta identity), so an equality
    // DELETE in one source incrementally KILLS its join groups — no
    // allowRebuild, no re-join of the bulk. Zero-count rows vanish via
    // the counting merge. Before r19 any delete in a join-view source
    // forced the pinned full re-join.
    "q_avro_matview_join_del" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .createOrReplaceTempView("ord_src_mvjd")
      table(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .createOrReplaceTempView("cust_src_mvjd")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mvjd")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mvjdord")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mvjdcust")
      s.sql("CREATE TABLE graft_gate.gate.mvjdord AS " +
        "SELECT * FROM ord_src_mvjd WHERE o_orderkey % 2 = 0") // L v1
      s.sql("CREATE TABLE graft_gate.gate.mvjdcust AS " +
        "SELECT * FROM cust_src_mvjd") // R v1
      s.sql(
        """CALL graft_gate.system.create_counting_join_matview(
          |  'gate.mvjd', 'gate.mvjdord', 'gate.mvjdcust',
          |  'SELECT o_orderkey, o_custkey, o_orderpriority,
          |     c_mktsegment
          |   FROM __L__ JOIN __R__ ON o_custkey = c_custkey')"""
          .stripMargin)
      // one side appends, the other DELETES a whole segment
      s.sql("INSERT INTO graft_gate.gate.mvjdord " +
        "SELECT * FROM ord_src_mvjd WHERE o_orderkey % 2 = 1") // L v2
      s.sql("DELETE FROM graft_gate.gate.mvjdcust " +
        "WHERE c_mktsegment = 'BUILDING'") // R v2 (equality delete)
      s.sql("CALL graft_gate.system.refresh_join_matview('gate.mvjd')")
      // BUILDING groups must have VANISHED from the maintained view
      s.sql("""SELECT c_mktsegment, o_orderpriority,
              |  CAST(sum(_mv_n) AS BIGINT) AS n_orders,
              |  CAST(sum(o_orderkey * _mv_n) AS BIGINT) AS key_sum
              |FROM graft_gate.gate.mvjd
              |GROUP BY c_mktsegment, o_orderpriority
              |ORDER BY c_mktsegment, o_orderpriority""".stripMargin)
    }),

    // N-WAY COUNTING MATVIEW (r20): the bilinear 2-way delta identity
    // telescopes to the n-linear sum — term i joins sources before i at
    // their OLD versions, source i's signed CDC delta, and sources
    // after i at their NEW versions. A star-schema view
    // (orders ⋈ customer ⋈ nation) maintains through an append on the
    // fact AND an equality DELETE on the MIDDLE dimension in one
    // refresh: the deleted segment's groups VANISH incrementally, no
    // allowRebuild, no re-join of the bulk (MatviewSpec covers deltas
    // on all three sources incl. posdel decrements).
    "q_avro_matview_3way" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .createOrReplaceTempView("ord_src_mv3")
      table(s, dir, "customer")
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .createOrReplaceTempView("cust_src_mv3")
      table(s, dir, "nation")
        .select("n_nationkey", "n_name")
        .createOrReplaceTempView("nat_src_mv3")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mv3")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mv3ord")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mv3cust")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mv3nat")
      s.sql("CREATE TABLE graft_gate.gate.mv3ord AS " +
        "SELECT * FROM ord_src_mv3 WHERE o_orderkey % 2 = 0") // S1 v1
      s.sql("CREATE TABLE graft_gate.gate.mv3cust AS " +
        "SELECT * FROM cust_src_mv3") // S2 v1
      s.sql("CREATE TABLE graft_gate.gate.mv3nat AS " +
        "SELECT * FROM nat_src_mv3") // S3 v1
      s.sql(
        """CALL graft_gate.system.create_nway_counting_matview(
          |  'gate.mv3', 'gate.mv3ord,gate.mv3cust,gate.mv3nat',
          |  'SELECT o_orderkey, o_orderpriority, c_custkey, n_name
          |   FROM __S1__ JOIN __S2__ ON o_custkey = c_custkey
          |   JOIN __S3__ ON c_nationkey = n_nationkey')"""
          .stripMargin)
      // one window: fact appends, MIDDLE dimension deletes a whole
      // segment, last dimension appends unmatched rows
      s.sql("INSERT INTO graft_gate.gate.mv3ord " +
        "SELECT * FROM ord_src_mv3 WHERE o_orderkey % 2 = 1") // S1 v2
      s.sql("DELETE FROM graft_gate.gate.mv3cust " +
        "WHERE c_mktsegment = 'BUILDING'") // S2 v2 (equality delete)
      s.sql("INSERT INTO graft_gate.gate.mv3nat " +
        "SELECT n_nationkey + 100, n_name FROM nat_src_mv3") // S3 v2
      s.sql("CALL graft_gate.system.refresh_join_matview('gate.mv3')")
      s.sql("""SELECT n_name, o_orderpriority,
              |  CAST(sum(_mv_n) AS BIGINT) AS n_orders,
              |  CAST(sum(o_orderkey * _mv_n) AS BIGINT) AS key_sum
              |FROM graft_gate.gate.mv3
              |GROUP BY n_name, o_orderpriority
              |ORDER BY n_name, o_orderpriority""".stripMargin)
    }),

    // SQL CALL procedures under the oracle: a full maintenance lifecycle
    // through `CALL cat.system.*` — rollback_to_version physically
    // restores v1 (the doubled v2 generation archives out), then
    // add_constraint polices the final insert. The aggregate must equal
    // v1 ∪ the policed insert exactly: a rollback that leaves a v2 file
    // live, resurrects nothing, or a constraint decorator that drops a
    // valid row all break the hash.
    // CONSTRAINT AUDIT (r20): rows adopted via CALL system.add_files
    // bypass write-time CHECK enforcement (foreign containers are
    // registered byte-untouched) — validate_constraints is the
    // distributed one-pass audit that finds them. The gate smuggles a
    // 25-row container violating BOTH constraints into a policed
    // table, adopts it, and the audit must count exactly those rows
    // per constraint (NULL passes; write-path rows contribute zero).
    "q_avro_validate" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "lineitem")
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.floor(F.col("l_quantity") * 100).cast("long").as("qty"))
        .repartition(s.sparkContext.defaultParallelism)
        .createOrReplaceTempView("li_src_vc")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.vc")
      s.sql("CREATE TABLE graft_gate.gate.vc AS SELECT * FROM li_src_vc")
      s.sql("CALL graft_gate.system.add_constraint(" +
        "'gate.vc', 'qty_pos', 'qty >= 0')")
      s.sql("CALL graft_gate.system.add_constraint(" +
        "'gate.vc', 'key_cap', 'okey < 100000000')")
      // foreign container: same field names/types, every row violating
      // both constraints — written by the engine into a SCRATCH dir,
      // then byte-copied into the table and adopted
      val scratch = tempDir("graft_gate_vc_smuggle")
      table(s, dir, "nation")
        .select((F.col("n_nationkey").cast("long") + 900000000L)
          .as("okey"), F.lit(-5L).as("qty"))
        .coalesce(1)
        .write.format("graft-avro").mode("overwrite").save(scratch)
      val part = new java.io.File(scratch).listFiles()
        .filter(f => f.getName.endsWith(".avro")).head
      val tblDir = new java.io.File(
        s.conf.get("spark.sql.catalog.graft_gate.root") + "/gate/vc")
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(tblDir, "imported-0001.avro").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      s.sql("CALL graft_gate.system.add_files('gate.vc')")
      s.sql("CALL graft_gate.system.validate_constraints('gate.vc')")
    }),

    "q_avro_call" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "supplier").createOrReplaceTempView("sup_src_cat")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.sup")
      s.sql("CREATE TABLE graft_gate.gate.sup AS " +
        "SELECT s_suppkey, s_nationkey, s_acctbal FROM sup_src_cat")
      s.sql("INSERT INTO graft_gate.gate.sup " +
        "SELECT s_suppkey + 1000000, s_nationkey, s_acctbal * 2 " +
        "FROM sup_src_cat")
      s.sql("CALL graft_gate.system.rollback_to_version('gate.sup', 1)")
      s.sql("CALL graft_gate.system.add_constraint('gate.sup', " +
        "'bal_known', 's_acctbal IS NOT NULL')")
      s.sql("INSERT INTO graft_gate.gate.sup " +
        "SELECT s_suppkey + 2000000, s_nationkey, s_acctbal " +
        "FROM sup_src_cat WHERE s_nationkey < 5")
      s.sql("""SELECT s_nationkey, count(*) AS n_supp,
              |       CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT))
              |         AS BIGINT) AS cents
              |FROM graft_gate.gate.sup
              |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    }),

    // CHECK CONSTRAINTS under the oracle: both write generations pass
    // through enforced validation (an ad-hoc `check` option, then a
    // stored table constraint) — the decorator must be EXACTLY
    // transparent for valid rows: a dropped, duplicated, or reordered
    // row in the constrained path breaks the hash. The rejection path
    // (violations fail atomically, null passes) is pinned in
    // ConstraintSpec.
    "q_avro_constraint" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_chk")
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .repartition(s.sparkContext.defaultParallelism)
        .write.format("graft-avro")
        .option("check", "l_quantity > 0 AND l_returnflag IN ('A','N','R')")
        .mode("overwrite").save(tmp)
      graft.sources.AvroMaintenance.addConstraint(s, tmp,
        "qty_pos", "l_quantity > 0")
      table(s, dir, "lineitem")
        .filter(F.col("l_orderkey") % 7 === 0)
        .select((F.col("l_orderkey") + 20000000L).as("l_orderkey"),
          F.col("l_quantity"), F.col("l_returnflag"))
        .write.format("graft-avro").mode("append").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n_lines"),
          F.round(F.sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // NESTED schema evolution (r20): ALTER TABLE ADD/DROP COLUMN with a
    // dotted path evolves a struct field metadata-only — pre-ALTER
    // files synthesize null for the added nested field through the
    // reader-schema recursion (zero files rewritten), post-ALTER
    // inserts carry real values, the nested DROP hides a field the
    // final aggregate must not see, and a VERSION AS OF read below the
    // first ALTER pins the bracket (pre-add row count). coalesce(-1)
    // distinguishes the generations in the hash.
    "q_avro_addcol_nested" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "nation").createOrReplaceTempView("nat_src_nst")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.natnest")
      s.sql("CREATE TABLE graft_gate.gate.natnest AS " +
        "SELECT n_nationkey, named_struct('name', n_name, " +
        "'rk', n_regionkey) AS info FROM nat_src_nst " +
        "WHERE n_regionkey < 3")                                   // v1
      s.sql("ALTER TABLE graft_gate.gate.natnest " +
        "ADD COLUMN info.bonus BIGINT")                            // v2
      s.sql("INSERT INTO graft_gate.gate.natnest " +
        "SELECT n_nationkey, named_struct('name', n_name, " +
        "'rk', n_regionkey, 'bonus', CAST(n_nationkey * 10 AS BIGINT)) " +
        "FROM nat_src_nst WHERE n_regionkey >= 3")                 // v3
      s.sql("ALTER TABLE graft_gate.gate.natnest " +
        "DROP COLUMN info.name")                                   // v4
      s.sql("""WITH agg AS (
              |  SELECT info.rk AS rk, count(*) AS n_rows,
              |         CAST(sum(coalesce(info.bonus, -1)) AS BIGINT)
              |           AS bonus_sum,
              |         CAST(sum(n_nationkey) AS BIGINT) AS key_sum
              |  FROM graft_gate.gate.natnest GROUP BY info.rk),
              |pre AS (
              |  SELECT CAST(-1 AS INT) AS rk, count(*) AS n_rows,
              |         CAST(-99 AS BIGINT) AS bonus_sum,
              |         CAST(-99 AS BIGINT) AS key_sum
              |  FROM graft_gate.gate.natnest VERSION AS OF 1),
              |unioned AS (SELECT * FROM agg UNION ALL SELECT * FROM pre)
              |SELECT * FROM unioned ORDER BY rk""".stripMargin)
    }),

    // SCHEMA EVOLUTION (ADD COLUMN) under the oracle: rows inserted
    // before the ALTER must serve null in the added column (reader-
    // schema synthesis — zero files rewritten), rows inserted after
    // carry real values; the aggregate distinguishes the two via
    // coalesce(bonus, -1), so a default applied to the wrong side, a
    // missing column, or a dropped pre-ALTER row all break the hash.
    "q_avro_addcol" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "nation").createOrReplaceTempView("nat_src_cat")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.natadd")
      s.sql("CREATE TABLE graft_gate.gate.natadd AS " +
        "SELECT n_nationkey, n_name, n_regionkey FROM nat_src_cat " +
        "WHERE n_regionkey < 3")
      s.sql("ALTER TABLE graft_gate.gate.natadd ADD COLUMN bonus BIGINT")
      s.sql("INSERT INTO graft_gate.gate.natadd " +
        "SELECT n_nationkey, n_name, n_regionkey, " +
        "CAST(n_nationkey * 10 AS BIGINT) FROM nat_src_cat " +
        "WHERE n_regionkey >= 3")
      // a DEFAULT'd add AFTER all inserts: every physical file lacks
      // the column, so every row must decode the declared literal
      s.sql("ALTER TABLE graft_gate.gate.natadd " +
        "ADD COLUMN tier STRING DEFAULT 'std'")
      s.sql("""SELECT n_regionkey, count(*) AS n_rows,
              |       CAST(sum(coalesce(bonus, -1)) AS BIGINT) AS bonus_sum,
              |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
              |       CAST(sum(CASE WHEN tier = 'std' THEN 1 ELSE 0 END)
              |         AS BIGINT) AS n_std
              |FROM graft_gate.gate.natadd
              |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    }),

    // SCHEMA EVOLUTION (RENAME + DROP) under the oracle: the rename is
    // pure metadata (pre-rename files decode through a reader alias),
    // the drop hides a column without touching data, and the post-drop
    // INSERT proves the table keeps accepting the evolved shape. The
    // final aggregate reads THROUGH the renamed column over both file
    // generations.
    "q_avro_dropcol" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
        .createOrReplaceTempView("ordevo_src_cat")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.ordevo")
      s.sql("CREATE TABLE graft_gate.gate.ordevo AS " +
        "SELECT * FROM ordevo_src_cat")
      s.sql("ALTER TABLE graft_gate.gate.ordevo " +
        "RENAME COLUMN o_totalprice TO price")
      s.sql("ALTER TABLE graft_gate.gate.ordevo DROP COLUMN o_orderpriority")
      s.sql("INSERT INTO graft_gate.gate.ordevo " +
        "SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice * 2 " +
        "FROM ordevo_src_cat WHERE o_orderkey % 10 = 0")
      s.sql("""SELECT o_orderstatus, count(*) AS n_orders,
              |       CAST(sum(CAST(round(price * 100) AS BIGINT))
              |         AS BIGINT) AS cents
              |FROM graft_gate.gate.ordevo
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // ROLLBACK under the oracle: overwrite v1 (full region set) with a
    // filtered v2, then rollbackTo(1) — archived files must physically
    // restore, the replaced generation archive out, and the final read
    // serve exactly v1's content as a NEW journal version (history
    // stays append-only; derived stats manifests drop — absence=scan).
    "q_avro_rollback" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_rollback")
      val nat = table(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      nat.write.format("graft-avro").mode("overwrite").save(tmp)      // v1
      nat.filter(F.col("n_regionkey") < 2)
        .write.format("graft-avro").mode("overwrite").save(tmp)       // v2
      graft.sources.AvroMaintenance.rollbackTo(tmp, 1L)               // v3
      s.read.format("graft-avro").load(tmp)
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).as("n_nations"),
          F.sum("n_nationkey").cast("long").as("key_sum"),
          F.sum(F.length(F.col("n_name"))).cast("long").as("name_len"))
        .orderBy("n_regionkey")
    }),

    // VERSIONED TRUNCATE under the oracle: load region, TRUNCATE (live
    // files archive, the journal minting records the empty state), then
    // reload only the sub-Asia rows — the final table must hold exactly
    // the second load, while VERSION AS OF 1 (proven in
    // GraftCatalogSpec) still serves the first.
    "q_avro_truncate" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "nation").createOrReplaceTempView("nat_src_cat")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.nat")
      s.sql("CREATE TABLE graft_gate.gate.nat AS SELECT * FROM nat_src_cat")
      s.sql("TRUNCATE TABLE graft_gate.gate.nat")
      s.sql("INSERT INTO graft_gate.gate.nat " +
        "SELECT * FROM nat_src_cat WHERE n_regionkey = 2")
      s.sql("""SELECT n_regionkey, count(*) AS n_nations,
              |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
              |FROM graft_gate.gate.nat
              |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    }),

    // ROW-LEVEL SQL under the oracle: UPDATE doubles the price of 'F'
    // orders (group-based copy-on-write — only files holding matches are
    // rewritten, via the dynamic _graft_file group filter), then a
    // NON-equality DELETE takes the same rewrite path. The final
    // aggregate must equal the oracle's CASE/WHERE re-derivation — a
    // dropped unmatched row in a rewritten group, a double-applied
    // update, or a resurrected deleted row all break the hash.
    "q_avro_update" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(s.sparkContext.defaultParallelism)
        .createOrReplaceTempView("ord_src_cat")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.ord")
      s.sql("CREATE TABLE graft_gate.gate.ord AS SELECT * FROM ord_src_cat")
      s.sql("UPDATE graft_gate.gate.ord SET o_totalprice = " +
        "o_totalprice * 2 WHERE o_orderstatus = 'F'")
      s.sql("DELETE FROM graft_gate.gate.ord WHERE o_orderkey % 100 < 3")
      s.sql("""SELECT o_orderstatus, count(*) AS n_orders,
              |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              |         AS BIGINT) AS cents
              |FROM graft_gate.gate.ord
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // METADATA COLUMNS under the oracle: a single verified-order file
    // makes `_graft_pos` a pure function of the sort key — the hidden
    // column (SupportsMetadataColumns, invisible to SELECT *) must equal
    // the oracle's row_number ordinal exactly, for every row it serves.
    "q_avro_metacols" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_metacols")
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .coalesce(1).sortWithinPartitions("l_orderkey", "l_linenumber")
        .write.format("graft-avro").mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .select(F.col("_graft_pos").as("pos"),
          F.col("l_orderkey"), F.col("l_linenumber"))
        .filter(F.col("pos") < 1000)
        .orderBy("pos")
    }),

    // POSITIONAL deletes under the oracle: lineitem lands as ONE file in
    // (l_orderkey, l_linenumber) order, three physical ordinals die via
    // the `_graft_posdel` sidecar (no data rewrite), and the aggregate
    // over what survives must equal the oracle's row_number-based
    // exclusion — an off-by-one in the decode ordinal, a split that
    // resets the counter, or a resurrected row all break the hash.
    "q_avro_posdel" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_posdel")
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .coalesce(1).sortWithinPartitions("l_orderkey", "l_linenumber")
        .write.format("graft-avro").mode("overwrite").save(tmp)
      val rel = graft.sources.AvroFileSource
        .listAvro(new java.io.File(tmp)).head.getName
      graft.sources.AvroMaintenance.deleteAtPositions(tmp, rel,
        Seq(0L, 17L, 999L))
      s.read.format("graft-avro").load(tmp)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n_lines"),
          F.round(F.sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // COLUMN RENAME without data rewrite under the oracle: half of
    // orders lands under the old column name, the table renames
    // o_totalprice → price (one `_graft_colmap` line, zero bytes of
    // data touched), and the other half appends under the NEW name.
    // Old files decode through Avro reader-field aliases; the aggregate
    // over the unified `price` column must equal the parquet truth over
    // o_totalprice — one row lost or mis-aliased breaks the hash.
    "q_avro_rename" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_rename")
      val orders = table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      orders.filter(F.col("o_orderkey") % 2 === 0)
        .write.format("graft-avro").mode("overwrite").save(tmp)
      graft.sources.AvroMaintenance.renameColumn(s, tmp,
        "o_totalprice", "price")
      orders.filter(F.col("o_orderkey") % 2 === 1)
        .withColumnRenamed("o_totalprice", "price")
        .write.format("graft-avro").mode("append").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).as("n_orders"),
          F.sum(F.round(F.col("price") * 100).cast("long"))
            .as("cents_total"))
        .orderBy("o_orderstatus")
    }),

    // `files` metadata table under the oracle: a clustered partitioned
    // write (requestSort ⇒ exactly one file per hive dir) makes the
    // per-file physical record counts equal the per-partition GROUP BY —
    // so the metadata table's block-header counts (zero rows decoded,
    // header walk distributed over executors) are checked row-for-row
    // against the data itself.
    "q_avro_files" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_files")
      table(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.format("graft-avro")
        .option("partitionBy", "o_orderpriority")
        .option("requestSort", "true")
        .mode("overwrite").save(tmp)
      graft.sources.AvroMaintenance.filesTable(s, tmp)
        .select(F.col("part"), F.col("n_records"))
        .orderBy("part")
    }),

    // PARTITION EVOLUTION under the oracle: half of orders lands
    // partitioned by o_orderpriority, the other half is APPENDED under a
    // different spec (o_orderstatus) — the mixed-spec table must read as
    // one dataset, with the priority filter pruning old-spec dirs by
    // path and new-spec files only via their column zones (absence of a
    // segment ⇒ keep), so not one row is lost across the spec change.
    // The aggregate re-derives from the parquet original.
    "q_avro_partevolve" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_pevolve")
      val orders = table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice")
      orders.filter(F.col("o_orderkey") % 2 === 0)
        .write.format("graft-avro").option("partitionBy", "o_orderpriority")
        .mode("overwrite").save(tmp)
      orders.filter(F.col("o_orderkey") % 2 === 1)
        .write.format("graft-avro").option("partitionBy", "o_orderstatus")
        .mode("append").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .filter(F.col("o_orderpriority") === "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).as("n_orders"),
          F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .as("cents_total"))
        .orderBy("o_orderstatus")
    }),

    // Declared write distribution (RequiresDistributionAndOrdering): the
    // SINK requests range partitioning + per-task ordering on l_orderkey
    // via requestSort=true — no repartitionByRange / sortWithinPartitions
    // in user code — and Spark inserts the exchange + sort itself. The
    // verified sortedBy claim (OrderVerifier throws on any unsorted file)
    // proves the declared layout was actually applied; the selective read
    // back then prunes whole files off the zone manifest the commit
    // stamped, and the aggregate must still match the parquet truth.
    "q_avro_sortreq" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_sortreq")
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .write.format("graft-avro").option("sortedBy", "l_orderkey")
        .option("requestSort", "true")
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .filter(F.col("l_orderkey").between(3000, 9000))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n_lines"),
          F.round(F.sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Zone-map pruned read under the oracle: lineitem goes through the
    // sink range-partitioned and verified-sorted on l_orderkey, so the
    // batch commit records each file's key range in the
    // _graft_zones_cols manifest; the selective key-range read back
    // prunes whole non-overlapping files inside planInputPartitions
    // (ZoneMapSpec pins strictly-fewer-files) and the aggregate must
    // still match the parquet truth exactly — a wrongly-pruned file
    // would drop rows.
    "q_avro_zonemap" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_zonemap")
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
        .repartitionByRange(8, F.col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.format("graft-avro").option("sortedBy", "l_orderkey")
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .filter(F.col("l_orderkey") < 2000)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n_lines"),
          F.round(F.sum("l_quantity"), 2).as("sum_qty"),
          F.round(F.sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // Metadata-served MIN/MAX on an UNSORTED table under the oracle: no
    // sortedBy claim anywhere — the all-column manifest (explicit
    // __null__ coverage markers, exact untruncated bounds) answers
    // min/max over THREE different columns in one driver-side manifest
    // fold; ZoneMapSpec proves zero data files are opened. The Iceberg
    // shape without requiring a sorted layout.
    "q_avro_minmax_any" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_minmax_any")
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
        .repartition(6, F.col("l_suppkey")) // clustered but UNSORTED
        .write.format("graft-avro").mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .agg(F.min("l_orderkey").as("min_key"),
          F.max("l_orderkey").as("max_key"),
          F.max("l_suppkey").as("max_supp"),
          F.min("l_returnflag").as("min_flag"),
          F.max("l_returnflag").as("max_flag"))
    }),

    // All-column zone pruning under the oracle: the table is range-
    // partitioned by supplier but carries NO sortedBy claim — the
    // per-file min/max every batch commit records in _graft_zones_cols
    // is what prunes the selective supplier predicate (ZoneMapSpec pins
    // strictly-fewer-files on unsorted tables). The 100 TB shape: ANY
    // clustered column bounds file scans, not just the one verified
    // sort column, exactly like parquet row-group stats — but served
    // from one tiny manifest instead of a footer read per file.
    "q_avro_zonemap_any" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_zonemap_any")
      table(s, dir, "lineitem")
        .select("l_suppkey", "l_orderkey", "l_quantity", "l_returnflag")
        .repartitionByRange(8, F.col("l_suppkey"))
        .write.format("graft-avro") // unsorted: col zones do the work
        .mode("overwrite").save(tmp)
      s.read.format("graft-avro").load(tmp)
        .filter(F.col("l_suppkey") < 50)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n_lines"),
          F.round(F.sum("l_quantity"), 2).as("sum_qty"),
          F.max("l_orderkey").as("max_key"))
        .orderBy("l_returnflag")
    }),

    // Zone-DECIDED filtered COUNT(*): when every live file either
    // all-matches or none-matches the predicate (provable from the
    // column-zone manifest, or a partition-path point value), the
    // filter is accepted as FULLY pushed — no post-scan Filter — and
    // the residual-free count is served from block headers alone, zero
    // rows decoded (AvroZoneDecideSpec pins the plan shape). The
    // 100 TB shape: a partition- or cluster-aligned `WHERE` on a
    // petabyte table answers COUNT from metadata, like Iceberg's
    // manifest-served counts. cnt_part exercises the partition-value
    // route, cnt_zone the per-file zone-bound route (two appends with
    // disjoint key ranges; the boundary predicate decides both files).
    "q_avro_count_filtered" -> ((s, dir) => {
      val tmpP = tempDir("graft_gate_cntf_part")
      table(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .write.format("graft-avro")
        .option("partitionBy", "o_orderpriority")
        .mode("overwrite").save(tmpP)
      val tmpZ = tempDir("graft_gate_cntf_zone")
      val li = table(s, dir, "lineitem")
        // parquet columns read nullable; zone decisions require a
        // non-nullable column (bounds cover non-null values only) —
        // coalesce restores non-nullability, values are all non-null
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_quantity"))
      // boundary 600 is interior at EVERY SF (sf0.001 keys reach 1499)
      // so both appends are non-empty — an empty file writes __null__
      // zone markers, which decline to decide
      li.filter(F.col("okey") <= 600).coalesce(1)
        .write.format("graft-avro").mode("overwrite").save(tmpZ)
      li.filter(F.col("okey") > 600).coalesce(1)
        .write.format("graft-avro").mode("append").save(tmpZ)
      val cntPart = s.read.format("graft-avro").load(tmpP)
        .filter(F.col("o_orderpriority") === "1-URGENT")
        .agg(F.count(F.lit(1)).as("cnt_part"))
      val cntZone = s.read.format("graft-avro").load(tmpZ)
        .filter(F.col("okey") <= 600)
        .agg(F.count(F.lit(1)).as("cnt_zone"))
      cntPart.crossJoin(cntZone)
    }),

    // Row-level DELETE as merge-on-read: equality deletes on TWO columns
    // publish as a tiny sidecar (no data file rewritten), and every
    // subsequent read — including with the delete columns pruned from
    // the projection — applies them exactly at decode time. The oracle
    // is the NOT IN mirror over the parquet source; metadata-served
    // COUNT/MIN/MAX self-disable while the sidecar exists (spec-pinned).
    "q_avro_delete" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_delete")
      table(s, dir, "documents")
        .write.format("graft-avro").mode("overwrite").save(tmp)
      graft.sources.AvroMaintenance.deleteWhere(s, tmp, "source",
        Seq("src3", "src7"))
      graft.sources.AvroMaintenance.deleteWhere(s, tmp, "doc_id",
        Seq(11L, 22L, 33L))
      s.read.format("graft-avro").load(tmp)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum("n_chars").as("chars"),
          F.sum(F.length(F.col("text")).cast("long")).as("text_len"))
        .orderBy("lang")
    }),

    // Metadata-only TYPE WIDENING (ALTER COLUMN TYPE): v1 writes p_size
    // as INT, the ALTER widens it to BIGINT without touching a file
    // (old bytes promote at decode — Avro's own resolution rule), and
    // the v3 append carries values only a BIGINT can hold. One
    // aggregation spans both generations, so the oracle pins the
    // promotion arithmetic exactly.
    "q_avro_widen" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_widen")
      val part = table(s, dir, "part")
      part.select(F.col("p_partkey"), F.col("p_size"), F.col("p_brand"))
        .filter(F.col("p_partkey") % 2 === 0)
        .write.format("graft-avro").mode("overwrite").save(tmp)  // v1
      graft.sources.AvroMaintenance.widenColumn(tmp, "p_size",
        org.apache.spark.sql.types.LongType)                     // v2
      part.select(F.col("p_partkey"),
          (F.col("p_size").cast("long") * 1000000000L).as("p_size"),
          F.col("p_brand"))
        .filter(F.col("p_partkey") % 2 === 1)
        .write.format("graft-avro").mode("append").save(tmp)     // v3
      s.read.format("graft-avro").load(tmp)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum("p_size").as("size_sum"),
          F.max("p_size").as("size_max"))
        .orderBy("p_brand")
    }),

    // CDC read (net changes between versions): three commits — base
    // overwrite, append, equality delete — then readChanges(v1, v3)
    // reconstructs the NET row-level diff. The delete makes the range
    // non-additive, forcing the semantic-diff path (two EXCEPT ALLs
    // over the version states); a row appended at v2 and deleted at v3
    // nets to NOTHING, which the oracle's set algebra mirrors. The
    // additive fast path (adds-only ⇒ scan just the new files, no
    // shuffle) is plan-guarded in CdcSpec.
    "q_avro_cdc" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_cdc")
      val docs = table(s, dir, "documents")
      docs.filter(F.col("doc_id") % 4 === 0)
        .write.format("graft-avro").mode("overwrite").save(tmp) // v1
      docs.filter(F.col("doc_id") % 4 === 1)
        .write.format("graft-avro").mode("append").save(tmp)    // v2
      graft.sources.AvroMaintenance.deleteWhere(s, tmp, "source",
        Seq("src2"))                                            // v3
      graft.sources.AvroMaintenance.readChanges(s, tmp, 1L, 3L)
        .groupBy(F.col("_change_type").as("change"), F.col("lang"))
        .agg(F.count(F.lit(1)).as("n"),
          F.sum("n_chars").as("chars"))
        .orderBy("change", "lang")
    }),

    // Compaction (OPTIMIZE): a 24-way fragmented table with pending
    // equality deletes bin-packs into byte-budgeted files in a fresh
    // directory through the normal transactional commit — deletes are
    // applied PHYSICALLY (no sidecar on the output), and the output's
    // all-column zone manifest is complete, proven here by serving
    // min/max(doc_id) from metadata on the compacted table (zero file
    // opens — the broadcast single-row join below). CompactAvroSpec pins
    // the file-count collapse and sidecar lifecycle.
    "q_avro_compact" -> ((s, dir) => {
      val in = tempDir("graft_gate_compact_av_in")
      val out = tempDir("graft_gate_compact_av_out")
      table(s, dir, "documents").repartition(24)
        .write.format("graft-avro").mode("overwrite").save(in)
      graft.sources.AvroMaintenance.deleteWhere(s, in, "source",
        Seq("src5"))
      graft.sources.AvroMaintenance.compactTo(s, in, out, 4L * 1024 * 1024)
      val t = s.read.format("graft-avro").load(out)
      val bounds = t.agg(F.min("doc_id").as("min_id"),
        F.max("doc_id").as("max_id"))
      t.groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"), F.sum("n_chars").as("chars"))
        .crossJoin(F.broadcast(bounds))
        .orderBy("lang")
    }),

    // Time travel (snapshot isolation): four commits — overwrite, append,
    // equality delete, overwrite — each mint a version in the
    // `_graft_snapshots` delta journal; `versionAsOf` reads reconstruct
    // every historical state exactly, INCLUDING the delete sidecar in
    // force at that version (v3 applies it, v2 predates it, v4's
    // overwrite cleared it) and the archived files the final overwrite
    // replaced. AvroSnapshotSpec drives timestampAsOf, schema-changing
    // travel, the vacuum (expireSnapshots) and the error contracts.
    "q_avro_timetravel" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_timetravel")
      val n = table(s, dir, "nation")
      n.filter(F.col("n_regionkey") < 2)
        .write.format("graft-avro").mode("overwrite").save(tmp) // v1
      n.filter(F.col("n_regionkey") >= 2 && F.col("n_regionkey") < 4)
        .write.format("graft-avro").mode("append").save(tmp)    // v2
      graft.sources.AvroMaintenance.deleteWhere(s, tmp,
        "n_regionkey", Seq(1))                                  // v3
      n.filter(F.col("n_regionkey") >= 3)
        .write.format("graft-avro").mode("overwrite").save(tmp) // v4
      (1 to 4).map { v =>
        s.read.format("graft-avro").option("versionAsOf", v.toLong)
          .load(tmp)
          .agg(F.count(F.lit(1)).as("n_rows"),
            F.sum("n_nationkey").as("sum_key"),
            F.sum(F.length(F.col("n_name")).cast("long")).as("name_len"))
          .select(F.lit(v).as("version"), F.col("n_rows"),
            F.col("sum_key"), F.col("name_len"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),

    // Row-level CDC between arbitrary versions: when the file-level
    // incremental read refuses (deletes/overwrites in the range), the
    // version DIFF still answers "what changed" — two versionAsOf reads
    // bag-subtracted both ways (EXCEPT ALL, so duplicate multiplicity
    // is respected). Here v1→v3 spans an equality delete AND an append:
    // the diff surfaces the deleted rows as removed and the appended
    // rows as added, from the journal alone.
    "q_avro_diff" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_diff")
      val n = table(s, dir, "nation")
      n.filter(F.col("n_regionkey") < 3)
        .write.format("graft-avro").mode("overwrite").save(tmp) // v1
      graft.sources.AvroMaintenance.deleteWhere(s, tmp,
        "n_regionkey", Seq(1))                                  // v2
      n.filter(F.col("n_regionkey") >= 3)
        .write.format("graft-avro").mode("append").save(tmp)    // v3
      def at(v: Long) = s.read.format("graft-avro")
        .option("versionAsOf", v).load(tmp)
      val added = at(3).exceptAll(at(1))
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum("n_nationkey").as("sum_key"))
        .select(F.lit("added").as("change"), F.col("n_rows"),
          F.col("sum_key"))
      val removed = at(1).exceptAll(at(3))
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum("n_nationkey").as("sum_key"))
        .select(F.lit("removed").as("change"), F.col("n_rows"),
          F.col("sum_key"))
      added.unionByName(removed).orderBy("change")
    }),

    // Incremental aggregate maintenance (materialized-view algebra): the
    // grouped aggregate at v3 is NEVER recomputed from v3's rows — it is
    // the stored v1 aggregate ⊕ the aggregate of the v1→v3 row-level
    // changelog. count and sum form a commutative group, so removed rows
    // fold in with negated sign and the merge is one tiny re-aggregation
    // of (base ∪ +delta ∪ −delta) partial states. At 100 TB this is the
    // difference between re-scanning the world and scanning only the
    // change set: the base aggregate is a stored artifact and the delta
    // side is proportional to the changelog, not the table. The oracle
    // recomputes the v3 state directly, so the gate proves the
    // incremental algebra lands on exactly the full-recompute answer.
    "q_avro_agg_incr" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_aggincr")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars")
      docs.filter(F.col("doc_id") % 3 =!= 0)
        .write.format("graft-avro").mode("overwrite").save(tmp)   // v1
      docs.filter(F.col("doc_id") % 6 === 0)
        .write.format("graft-avro").mode("append").save(tmp)      // v2
      graft.sources.AvroMaintenance.deleteWhere(s, tmp, "doc_id",
        Seq(2L, 4L, 6L, 8L, 10L))                                 // v3
      def at(v: Long) = s.read.format("graft-avro")
        .option("versionAsOf", v).load(tmp)
      def signed(df: org.apache.spark.sql.DataFrame, sign: Int) =
        df.groupBy("lang")
          .agg((F.count(F.lit(1)) * sign).as("n_docs"),
            (F.sum("n_chars") * sign).as("chars"))
      val base = signed(at(1), 1)
      val added = signed(at(3).exceptAll(at(1)), 1)
      val removed = signed(at(1).exceptAll(at(3)), -1)
      base.unionByName(added).unionByName(removed)
        .groupBy("lang")
        .agg(F.sum("n_docs").as("n_docs"), F.sum("chars").as("chars"))
        .filter(F.col("n_docs") > 0)
        .orderBy("lang")
    }),

    // DESCRIBE HISTORY: the operational audit surface every versioned
    // table needs — one row per snapshot with the commit kind, live
    // file count and delete-sidecar state, replayed purely from the
    // delta journal (O(churn) driver metadata, no data file opened).
    // Deterministic because file counts are pinned by explicit
    // repartition and the timestamp column is deliberately excluded.
    "q_avro_history" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_history")
      val n = table(s, dir, "nation")
      n.filter(F.col("n_regionkey") < 3).repartition(2)
        .write.format("graft-avro").mode("overwrite").save(tmp)   // v1
      n.filter(F.col("n_regionkey") >= 3).repartition(1)
        .write.format("graft-avro").mode("append").save(tmp)      // v2
      graft.sources.AvroMaintenance.deleteWhere(s, tmp,
        "n_nationkey", Seq(0L))                                   // v3
      n.filter(F.col("n_regionkey") === 1).repartition(1)
        .write.format("graft-avro").mode("overwrite").save(tmp)   // v4
      val hist = graft.sources.AvroFileSource
        .readSnapshots(new java.io.File(tmp))
        .map(sn => (sn.version, sn.kind, sn.files.size.toLong,
          sn.deletes.nonEmpty))
      import s.implicits._
      hist.toDF("version", "kind", "n_files", "has_deletes")
        .orderBy("version")
    }),

    // Write-audit-publish: incoming data is staged on a BRANCH (an
    // append-only overlay invisible to main), audited through the
    // branch read (main-at-fork ∪ overlay — exactly the state a publish
    // would produce), and fast-forward published as ONE atomic snapshot
    // (files move, nothing is rewritten). The production ingestion
    // discipline at 100 TB: a bad batch is dropped with main never
    // having seen a byte of it. The audit here gates on a real
    // constraint count over the branch view before publishing.
    "q_avro_wap" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_wap")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      docs.filter(F.col("doc_id") % 2 === 0)
        .write.format("graft-avro").mode("overwrite").save(tmp)    // v1
      graft.sources.AvroMaintenance.createBranch(tmp, "stage")
      docs.filter(F.col("doc_id") % 2 === 1)
        .withColumn("source", F.lit("staged"))
        .write.format("graft-avro").mode("append")
        .option("branch", "stage").save(tmp)
      val audit = s.read.format("graft-avro")
        .option("branch", "stage").load(tmp)
        .filter(F.col("n_chars") < 0 || F.col("doc_id").isNull).count()
      if (audit > 0) graft.sources.AvroMaintenance.dropBranch(tmp, "stage")
      else graft.sources.AvroMaintenance.publishBranch(tmp, "stage") // v2
      s.read.format("graft-avro").load(tmp)
        .groupBy(F.col("source").as("src"))
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum("n_chars").as("chars"))
        .orderBy("src")
    }),

    // BATCH changelog read (r16): `spark.read.option("readChangeFeed",
    // true)` with an explicit (startingVersion, endingVersion] window —
    // the Delta-style batch CDF surface, same partitions and per-row
    // delta machinery as the stream (posdel deltas ride the
    // `_graft_pos` coordinates; the window here brackets an append and
    // a positional delete, excluding v1's bulk and v4's later append).
    "q_avro_cdc_batch" -> ((s, dir) => {
      val src = tempDir("graft_gate_cdcb_src")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars")
      // v1: ONE file, physically sorted by doc_id — ordinals are ranks,
      // so the oracle can name the position-deleted rows exactly
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 0)
        .coalesce(1).sortWithinPartitions("doc_id")
        .write.format("graft-avro").mode("overwrite").save(src)
      val rel = {
        val d = new java.io.File(src)
        val base = d.getAbsoluteFile.toPath
        graft.sources.AvroFileSource.listLive(d).map { case (f, _) =>
          base.relativize(f.getAbsoluteFile.toPath).toString
        }.head
      }
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 1)
        .write.format("graft-avro").mode("append").save(src) // v2
      graft.sources.AvroMaintenance.deleteAtPositions(src, rel,
        Seq(0L, 1L, 2L)) // v3: the 3 smallest doc_ids of generation 1
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 2)
        .write.format("graft-avro").mode("append").save(src) // v4
      s.read.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("startingVersion", "2")
        .option("endingVersion", "3")
        .load(src)
        .groupBy(F.col("_commit_version").as("version"),
          F.col("_change_type").as("change_type"))
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum(F.col("n_chars").cast("long")).as("chars"))
        .orderBy("version", "change_type")
    }),

    // The branch-scoped change feed (r16): "what exactly would this
    // branch add if published?" — every staged overlay row as an
    // `insert` pinned at the fork version, riding the real branch scan.
    // The stamped pre-fork delete ('en' at v2) hides main's English
    // rows from the BRANCH READ but never touches the overlay's staged
    // English re-append (births pinned past every stamp) — the feed
    // must carry it. Cross-branch version ranges (main advancing past
    // the fork) refuse, mirroring the fast-forward publish contract.
    "q_avro_cdc_branch" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_cdcbr")
      val docs = table(s, dir, "documents")
        .select("doc_id", "lang", "n_chars")
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 0)
        .write.format("graft-avro").mode("overwrite").save(tmp) // v1
      graft.sources.AvroMaintenance.deleteWhere(s, tmp, "lang",
        Seq("en")) // v2: stamped before the fork
      graft.sources.AvroMaintenance.createBranch(tmp, "audit")
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 1)
        .write.format("graft-avro").mode("append")
        .option("branch", "audit").save(tmp)
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) === 2 &&
          F.col("lang") === "en")
        .write.format("graft-avro").mode("append")
        .option("branch", "audit").save(tmp)
      graft.sources.AvroMaintenance.branchChanges(s, tmp, "audit")
        .groupBy(F.col("_change_type").as("change_type"), F.col("lang"))
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars").cast("long")).as("chars"))
        .orderBy("change_type", "lang")
    }),

    // Row-level MERGE (upsert) by key, on versioned equality deletes:
    // each mergeInto publishes a version-stamped delete of the incoming
    // keys plus a transactional append, and the stamp rule (delete at V
    // applies only to files born < V) keeps the fresh rows alive. The
    // script exercises all the hard paths at once — a key deleted then
    // RESURRECTED by a later merge (doc_id 8), a key deleted forever
    // (16), keys replaced twice where the LATEST merge wins (doc_id ≡ 9
    // mod 12), and plain inserts-or-replacements either side. The oracle
    // folds the same update batches over the parquet source with
    // anti-join + union semantics.
    "q_avro_merge" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_merge")
      val docs = table(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      docs.write.format("graft-avro").mode("overwrite").save(tmp)   // v1
      graft.sources.AvroMaintenance.deleteWhere(s, tmp, "doc_id",
        Seq(8L, 16L))                                               // v2
      val u1 = docs.filter(F.col("doc_id") % 4 === 1)
        .withColumn("source", F.lit("m1"))
        .withColumn("n_chars", F.col("n_chars") * 10)
      graft.sources.AvroMaintenance.mergeInto(s, tmp, u1, "doc_id") // v3,v4
      val u2 = docs
        .filter(F.col("doc_id") % 6 === 3 || F.col("doc_id") === 8)
        .withColumn("source", F.lit("m2"))
        .withColumn("n_chars", F.col("n_chars") * 100)
      graft.sources.AvroMaintenance.mergeInto(s, tmp, u2, "doc_id") // v5,v6
      s.read.format("graft-avro").load(tmp)
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum("n_chars").as("chars"),
          F.sum(F.length(F.col("text")).cast("long")).as("text_len"))
        .orderBy("source")
    }),

    // Full three-clause SQL MERGE on the group-based row-level op path:
    // WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT + WHEN NOT MATCHED
    // BY SOURCE DELETE in one statement — the complete Delta/Iceberg
    // MERGE surface. The target collapses to exactly the source's keys
    // (matched rows rewritten, source-only inserted, target-only
    // deleted); the oracle re-derives that closed form with one LEFT
    // JOIN.
    "q_avro_merge_sql" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      val docs = table(s, dir, "documents")
        .select(F.coalesce(F.col("doc_id"), F.lit(0L)).as("doc_id"),
          F.col("n_chars").cast("long").as("val"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.m3")
      s.sql("CREATE TABLE graft_gate.gate.m3 " +
        "(doc_id BIGINT NOT NULL, val BIGINT)")
      docs.filter(F.col("doc_id") % 3 === 0)
        .createOrReplaceTempView("m3_base")
      s.sql("INSERT INTO graft_gate.gate.m3 SELECT * FROM m3_base")
      docs.filter(F.col("doc_id") % 2 === 0)
        .createOrReplaceTempView("m3_src")
      s.sql("""MERGE INTO graft_gate.gate.m3 t USING m3_src s
              |ON t.doc_id = s.doc_id
              |WHEN MATCHED THEN UPDATE SET val = s.val * 10
              |WHEN NOT MATCHED THEN INSERT (doc_id, val)
              |  VALUES (s.doc_id, s.val)
              |WHEN NOT MATCHED BY SOURCE THEN DELETE
              |""".stripMargin)
      s.sql("""SELECT count(*) AS n_rows,
              |  CAST(sum(val) AS BIGINT) AS val_sum,
              |  CAST(sum(doc_id) AS BIGINT) AS id_sum
              |FROM graft_gate.gate.m3""".stripMargin)
    }),

    // MERGE WITH SCHEMA EVOLUTION (the Delta-style upsert a SQL user
    // reaches for when the source grew a column): the analyzer turns
    // source-only columns into AddColumn changes applied through the
    // catalog BEFORE the merge (AUTOMATIC_SCHEMA_EVOLUTION capability →
    // the same version-stamped evo journal as an explicit ALTER), then
    // UPDATE/INSERT * carry the new column; pre-existing rows the merge
    // never touched null-default it at decode. The oracle re-derives
    // the closed form: every source row lands (matched updated,
    // unmatched inserted), target-only rows keep a NULL score.
    "q_avro_merge_evolve" -> ((s, dir) => {
      if (!s.conf.getOption("spark.sql.catalog.graft_gate").isDefined) {
        s.conf.set("spark.sql.catalog.graft_gate",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_gate.root",
          tempDir("graft_gate_cat"))
      }
      val docs = table(s, dir, "documents")
        .select(F.coalesce(F.col("doc_id"), F.lit(0L)).as("doc_id"),
          F.col("n_chars").cast("long").as("val"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.gate")
      s.sql("DROP TABLE IF EXISTS graft_gate.gate.mev")
      s.sql("CREATE TABLE graft_gate.gate.mev " +
        "(doc_id BIGINT NOT NULL, val BIGINT)")
      docs.filter(F.col("doc_id") % 3 === 0)
        .createOrReplaceTempView("mev_base")
      s.sql("INSERT INTO graft_gate.gate.mev SELECT * FROM mev_base")
      docs.filter(F.col("doc_id") % 2 === 0)
        .withColumn("score", F.col("doc_id") * 7)
        .createOrReplaceTempView("mev_src")
      s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_gate.gate.mev t
              |USING mev_src s ON t.doc_id = s.doc_id
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *
              |""".stripMargin)
      s.sql("""SELECT count(*) AS n_rows,
              |  CAST(sum(val) AS BIGINT) AS val_sum,
              |  CAST(sum(score) AS BIGINT) AS score_sum,
              |  count(score) AS n_scored
              |FROM graft_gate.gate.mev""".stripMargin)
    }),

    // DEEP CLONE (Delta CLONE parity): byte-copy the current snapshot +
    // stats manifests into a fresh table with an independent history —
    // the source diverges AFTER the clone and the clone must not see
    // it. Zero decode, zero rewrite: at 100 TB this is a metadata+copy
    // job, never a scan.
    "q_avro_clone" -> ((s, dir) => {
      val src = tempDir("graft_gate_clone_src")
      val dst = tempDir("graft_gate_clone_dst") + "/t"
      val ord = table(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      ord.write.format("graft-avro").mode("overwrite").save(src)
      graft.sources.AvroMaintenance.cloneTo(src, dst)
      // diverge the source: the clone's content is the snapshot's
      ord.limit(50).write.format("graft-avro").mode("append").save(src)
      s.read.format("graft-avro").load(dst)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).as("n_orders"),
          F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .as("cents"))
        .orderBy("o_orderpriority")
    }),

    // PARTITION-SCOPED OPTIMIZE — the maintenance shape a 100 TB table
    // actually runs: compact ONE hive partition's files in place (bin-
    // packed through the static partition-overwrite commit), leave
    // every other partition's files untouched, materialize pending
    // equality deletes on the way. The oracle is the full content minus
    // the deletes; files_r pins the single-file collapse.
    "q_avro_compact_part" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_cpart")
      val li = table(s, dir, "lineitem")
        .select(F.coalesce(F.col("l_orderkey"), F.lit(0L)).as("okey"),
          F.col("l_quantity"), F.col("l_returnflag"))
      li.filter("okey % 2 = 0")
        .write.format("graft-avro").option("partitionBy", "l_returnflag")
        .mode("overwrite").save(tmp) // gen 1
      li.filter("okey % 2 = 1")
        .write.format("graft-avro").option("partitionBy", "l_returnflag")
        .mode("append").save(tmp) // gen 2: >= 2 files per flag
      graft.sources.AvroMaintenance.deleteWhere(s, tmp, "okey",
        Seq(3L, 8L))
      graft.sources.AvroMaintenance.compactPartition(s, tmp,
        "l_returnflag", "R", 512L * 1024 * 1024)
      val nR = graft.sources.AvroFileSource
        .listPartitioned(new java.io.File(tmp))
        .count(_._2.get("l_returnflag").contains("R"))
      s.read.format("graft-avro").load(tmp)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n_lines"),
          F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).as("qty_c"))
        .withColumn("files_r", F.lit(nR.toLong))
        .orderBy("l_returnflag")
    }),

    // OPTIMIZE ZORDER on the avro source: clusterBy interleaves both
    // dimensions' scaled bits and rewrites, after which the all-column
    // zones prune on EITHER column (AvroClusterSpec pins the file
    // skipping both ways); this gate pins unchanged ANSWERS through the
    // clustered layout for selective predicates on each dimension.
    "q_avro_cluster" -> ((s, dir) => {
      val in = tempDir("graft_gate_cluster_in")
      val out = tempDir("graft_gate_cluster_out")
      table(s, dir, "documents").repartition(8)
        .write.format("graft-avro").mode("overwrite").save(in)
      graft.sources.AvroMaintenance.clusterBy(s, in, out,
        "doc_id", "n_chars", 8)
      val t = s.read.format("graft-avro").load(out)
      val byId = t.filter(F.col("doc_id") < 40)
        .agg(F.count(F.lit(1)).as("n_rows"), F.sum("n_chars").as("chars"))
        .select(F.lit("by_id").as("dim"), F.col("n_rows"), F.col("chars"))
      val byLen = t.filter(F.col("n_chars") >= 900)
        .agg(F.count(F.lit(1)).as("n_rows"), F.sum("n_chars").as("chars"))
        .select(F.lit("by_len").as("dim"), F.col("n_rows"), F.col("chars"))
      byId.unionByName(byLen).orderBy("dim")
    }),

    // Per-file bloom sidecars: equality/IN membership pruning for
    // hash-scattered high-cardinality keys — where every file's zone
    // range spans the domain and range pruning is useless, a point
    // lookup opens ~1 file of 12 via the `bloomFor` manifest. This gate
    // pins the ANSWERS through the pruned scans (doc_id IN-list +
    // source equality); BloomSkipSpec pins the file-count collapse and
    // zero-false-negative law.
    "q_avro_bloom" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_bloom")
      table(s, dir, "documents")
        .repartition(12, F.col("doc_id"))
        .write.format("graft-avro").option("bloomFor", "doc_id,source")
        .mode("overwrite").save(tmp)
      val t = s.read.format("graft-avro").load(tmp)
      val byId = t.filter(F.col("doc_id").isin(3L, 57L, 211L))
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum("n_chars").as("chars"))
        .select(F.lit("by_id").as("probe"), F.col("n_rows"), F.col("chars"))
      val bySrc = t.filter(F.col("source") === "src7")
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum("n_chars").as("chars"))
        .select(F.lit("by_source").as("probe"), F.col("n_rows"),
          F.col("chars"))
      byId.unionByName(bySrc).orderBy("probe")
    }),

    // TRIGRAM bloom sidecars under the oracle: substring predicates
    // (LIKE '%s%' / prefix / suffix) read through the trigram-pruned
    // path and must return exactly what an unindexed scan of the same
    // corpus returns — a trigram set that wrongly prunes a file
    // holding a match (the only unsound failure mode) breaks counts
    // and sums against DuckDB's direct evaluation.
    "q_avro_trigram" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_trgm")
      table(s, dir, "documents")
        .repartition(12, F.col("doc_id"))
        .write.format("graft-avro").option("trigramFor", "text,source")
        .mode("overwrite").save(tmp)
      val t = s.read.format("graft-avro").load(tmp)
      def probe(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(F.count(F.lit(1)).as("n_rows"),
          F.coalesce(F.sum("n_chars"), F.lit(0L)).as("chars"))
          .select(F.lit(name).as("probe"), F.col("n_rows"),
            F.col("chars"))
      probe("contains", t.filter(F.col("text").contains("the")))
        .unionByName(probe("absent",
          t.filter(F.col("text").contains("zqxjkvbn"))))
        .unionByName(probe("prefix",
          t.filter(F.col("source").startsWith("src1"))))
        .orderBy("probe")
    }),

    // Incremental (CDC-style) consumption off the snapshot journal: the
    // nightly-ETL primitive — "give me exactly the rows appended since
    // my last watermark version" without rescanning history. Changeset
    // (1, latest] spans two appends; (2, 3] isolates one. The
    // append-only soundness guard (an overwrite/delete inside the range
    // fails the read rather than emitting a wrong changeset) is pinned
    // in AvroSnapshotSpec.
    "q_avro_incremental" -> ((s, dir) => {
      val tmp = tempDir("graft_gate_incr")
      val n = table(s, dir, "nation")
      n.filter(F.col("n_regionkey") === 0)
        .write.format("graft-avro").mode("overwrite").save(tmp) // v1
      n.filter(F.col("n_regionkey") === 1)
        .write.format("graft-avro").mode("append").save(tmp)    // v2
      n.filter(F.col("n_regionkey").isin(2, 3))
        .write.format("graft-avro").mode("append").save(tmp)    // v3
      def changeset(rangeId: Int, opts: Map[String, String]) = {
        var r = s.read.format("graft-avro")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load(tmp)
          .agg(F.count(F.lit(1)).as("n_rows"),
            F.sum("n_nationkey").as("sum_key"))
          .select(F.lit(rangeId).as("range_id"), F.col("n_rows"),
            F.col("sum_key"))
      }
      changeset(1, Map("fromVersion" -> "1")) // v2+v3, toVersion = latest
        .unionByName(changeset(2,
          Map("fromVersion" -> "2", "toVersion" -> "3"))) // v3 only
        .unionByName(changeset(3, Map("fromVersion" -> "0"))) // everything
        .orderBy("range_id")
    })
  )

  val oracles: Map[String, String] = Map(
    // exactly-once across the kill/restart: the sink must hold the FULL
    // corpus once — identical to the uninterrupted-stream oracle
    "q_stream_restart" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                CAST(sum(length(text)) AS BIGINT) AS text_len
         FROM documents GROUP BY lang ORDER BY lang""",
    // two availableNow runs together drain the full corpus exactly once
    "q_stream_available_now" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents GROUP BY lang ORDER BY lang""",
    // byte-capped draining: exact content, >= 6 committed micro-batches
    "q_stream_bytes_trigger" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                TRUE AS multi_batch
         FROM documents GROUP BY lang ORDER BY lang""",
    // state-store recovery must reproduce the batch aggregation exactly
    // (same oracle as the uninterrupted q_stream_window)
    "q_stream_restart_agg" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                  AS value_m
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_avro_minmax" ->
      """SELECT min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
         FROM lineitem""",
    "q_avro_zonemap" ->
      """SELECT l_returnflag, count(*) AS n_lines,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem WHERE l_orderkey < 2000
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_avro_count_filtered" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE o_orderpriority = '1-URGENT') AS cnt_part,
                (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                 WHERE l_orderkey <= 600) AS cnt_zone""",
    "q_avro_stream_roll" ->
      """WITH mm AS (SELECT GREATEST(1, LEAST(16,
                       CAST(count(*) AS BIGINT) // 4096)) AS md
                     FROM lineitem)
         SELECT count(*) AS n_rows,
                CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS qty_c,
                CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
                TRUE AS rolled
         FROM lineitem, mm WHERE l_orderkey % mm.md = 0""",
    "q_stream_to_table" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                TRUE AS rolled, TRUE AS blooms, TRUE AS failed_epoch
         FROM documents GROUP BY lang ORDER BY lang""",
    "q_avro_block_skip" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
                CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS qty_c,
                CAST(sum(l_linenumber) AS BIGINT) AS line_sum
         FROM lineitem WHERE l_orderkey BETWEEN 600 AND 1400""",
    "q_avro_sorted_multi" ->
      """WITH f AS (SELECT count(*) AS n_rows,
                           CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
                             AS BIGINT) AS qty_c
                    FROM lineitem
                    WHERE l_orderkey BETWEEN 1000 AND 5000
                      AND l_linenumber >= 4),
              m AS (SELECT CAST(min(l_orderkey) AS BIGINT) AS min_okey,
                           CAST(max(l_orderkey) AS BIGINT) AS max_okey,
                           min(l_linenumber) AS min_lnum,
                           max(l_linenumber) AS max_lnum
                    FROM lineitem)
         SELECT n_rows, qty_c, min_okey, max_okey, min_lnum, max_lnum
         FROM f, m""",
    // net-diff mirror: odd-id rows (added at v2, en rows already dead
    // at v3) are inserts; even-id en rows (v1 files hit by the gained
    // delete entry) are deletes; even non-en rows are untouched bulk
    "q_avro_table_changes" ->
      """WITH ev AS (SELECT lang, n_chars FROM documents
                     WHERE doc_id % 2 = 0),
              od AS (SELECT lang, n_chars FROM documents
                     WHERE doc_id % 2 = 1),
              ins AS (SELECT 'insert' AS _change_type, n_chars
                      FROM od WHERE lang <> 'en'),
              del AS (SELECT 'delete' AS _change_type, n_chars
                      FROM ev WHERE lang = 'en'),
              chg AS (SELECT * FROM ins UNION ALL SELECT * FROM del)
         SELECT _change_type, count(*) AS n_rows,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM chg GROUP BY _change_type ORDER BY _change_type""",
    "q_avro_minmax_filtered" ->
      """SELECT (SELECT min(o_orderkey) FROM orders
                 WHERE o_orderpriority = '1-URGENT') AS min_p,
                (SELECT max(o_orderkey) FROM orders
                 WHERE o_orderpriority = '1-URGENT') AS max_p,
                (SELECT min(l_linenumber) FROM lineitem
                 WHERE l_orderkey > 600) AS min_line,
                (SELECT max(l_linenumber) FROM lineitem
                 WHERE l_orderkey > 600) AS max_line,
                (SELECT max(l_orderkey) FROM lineitem
                 WHERE l_orderkey > 600) AS max_okey""",
    "q_avro_minmax_posdel" ->
      """WITH del AS (
           SELECT min(doc_id) AS lo, max(doc_id) AS hi
           FROM documents WHERE doc_id % 2 = 1),
         u AS (
           SELECT doc_id, lang FROM documents
           WHERE NOT (doc_id % 2 = 1 AND
                      (doc_id = (SELECT lo FROM del) OR
                       doc_id = (SELECT hi FROM del))))
         SELECT CAST(min(doc_id) AS BIGINT) AS mn_id,
                CAST(max(doc_id) AS BIGINT) AS mx_id,
                min(lang) AS mn_lang, max(lang) AS mx_lang
         FROM u""",
    "q_avro_sortreq" ->
      """SELECT l_returnflag, count(*) AS n_lines,
                round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem WHERE l_orderkey BETWEEN 3000 AND 9000
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_avro_files" ->
      """SELECT 'o_orderpriority=' || o_orderpriority AS part,
                count(*) AS n_records
         FROM orders GROUP BY o_orderpriority ORDER BY part""",
    "q_avro_truncate" ->
      """SELECT n_regionkey, count(*) AS n_nations,
                CAST(sum(CAST(n_nationkey AS BIGINT)) AS BIGINT) AS key_sum
         FROM nation WHERE n_regionkey = 2
         GROUP BY n_regionkey ORDER BY n_regionkey""",
    // the replicated mirror equals the source's LIVE content — the
    // post-overwrite generation
    "q_avro_cdc_replicate" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents WHERE doc_id % 3 = 2
         GROUP BY lang ORDER BY lang""",
    // the mirror equals the source's live content: generations 1+2
    // minus the deleted English rows, plus the post-delete generation
    // (whose English rows the stamped entry never touched)
    "q_avro_cdc_replicate_del" ->
      """WITH kept AS (
           SELECT lang, n_chars FROM documents
           WHERE doc_id % 3 IN (0, 1)
             AND (lang IS NULL OR lang <> 'en')
           UNION ALL
           SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 2)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM kept GROUP BY lang ORDER BY lang""",
    // the (1, 3] window = v2's inserts + v3's positional deletes (the
    // 3 rank-smallest doc_ids of the sorted %3=0 generation)
    "q_avro_cdc_batch" ->
      """WITH g0 AS (SELECT doc_id, n_chars FROM documents
                     WHERE doc_id % 3 = 0),
         g1 AS (SELECT n_chars FROM documents WHERE doc_id % 3 = 1),
         dead AS (SELECT n_chars FROM (
                    SELECT n_chars, row_number() OVER (ORDER BY doc_id)
                      AS rn FROM g0)
                  WHERE rn <= 3),
         r2 AS (SELECT 2 AS version, 'insert' AS change_type, n_chars
                FROM g1),
         r3 AS (SELECT 3 AS version, 'delete' AS change_type, n_chars
                FROM dead),
         feed AS (SELECT * FROM r2 UNION ALL SELECT * FROM r3)
         SELECT CAST(version AS BIGINT) AS version, change_type,
                count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM feed GROUP BY 1, 2 ORDER BY 1, 2""",
    // the audit feed = exactly the two staged generations, all inserts
    // (the %3=1 subset whole, the %3=2 subset's English rows)
    "q_avro_cdc_branch" ->
      """WITH s1 AS (SELECT lang, n_chars FROM documents
                     WHERE doc_id % 3 = 1),
         s2 AS (SELECT lang, n_chars FROM documents
                WHERE doc_id % 3 = 2 AND lang = 'en'),
         staged AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
         SELECT 'insert' AS change_type, lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM staged GROUP BY lang ORDER BY change_type, lang""",
    // the mirror equals the MoR source's live content: seed, times-ten
    // update on the %3 rows, positional range delete, then the +1M
    // append — the whole history replayed through posdel deltas
    "q_avro_cdc_mor" ->
      """WITH seed AS (
           SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
           FROM documents WHERE doc_id % 4 = 0),
         upd AS (
           SELECT doc_id, lang,
                  CASE WHEN doc_id % 3 = 0 THEN n_chars * 10
                       ELSE n_chars END AS n_chars
           FROM seed),
         kept AS (
           SELECT lang, n_chars FROM upd
           WHERE NOT (doc_id % 5 = 1 AND n_chars > 500)),
         app AS (
           SELECT lang, n_chars FROM seed WHERE doc_id % 7 = 0),
         fin AS (SELECT * FROM kept UNION ALL SELECT * FROM app)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM fin GROUP BY lang ORDER BY lang""",
    // the CDC feed re-derived: v1/v2 insert generations, v3 = full
    // churn (every earlier row deleted + the replacement inserted)
    // the four pmod classes cover every lineitem row: the maintained
    // view must equal the straight group-by fold
    "q_stream_matview" ->
      """SELECT l_returnflag AS flag, count(*) AS n_lines,
                CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS qty_sum
         FROM lineitem GROUP BY l_returnflag ORDER BY flag""",
    "q_avro_cdc_stream" ->
      """WITH g0 AS (SELECT n_chars FROM documents WHERE doc_id % 3 = 0),
         g1 AS (SELECT n_chars FROM documents WHERE doc_id % 3 = 1),
         g2 AS (SELECT n_chars FROM documents WHERE doc_id % 3 = 2),
         r1 AS (SELECT 1 AS version, 'insert' AS change_type, n_chars
                FROM g0),
         r2 AS (SELECT 2 AS version, 'insert' AS change_type, n_chars
                FROM g1),
         r3 AS (SELECT 3 AS version, 'delete' AS change_type, n_chars
                FROM g0),
         r4 AS (SELECT 3 AS version, 'delete' AS change_type, n_chars
                FROM g1),
         r5 AS (SELECT 3 AS version, 'insert' AS change_type, n_chars
                FROM g2),
         feed AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
                  UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
                  UNION ALL SELECT * FROM r5)
         SELECT CAST(version AS BIGINT) AS version, change_type,
                count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM feed GROUP BY 1, 2 ORDER BY 1, 2""",
    // equality-delete deltas in the feed: v3 deletes the English rows
    // of generations 1+2 only; v4's append postdates that entry (stamp
    // gating keeps its English rows); v5's delete hits all three
    "q_avro_cdc_delete" ->
      """WITH g0 AS (SELECT lang, n_chars FROM documents
                     WHERE doc_id % 3 = 0),
         g1 AS (SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 1),
         g2 AS (SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 2),
         r1 AS (SELECT 1 AS version, 'insert' AS change_type, n_chars
                FROM g0),
         r2 AS (SELECT 2 AS version, 'insert' AS change_type, n_chars
                FROM g1),
         r3 AS (SELECT 3 AS version, 'delete' AS change_type, n_chars
                FROM (SELECT * FROM g0 UNION ALL SELECT * FROM g1)
                WHERE lang = 'en'),
         r4 AS (SELECT 4 AS version, 'insert' AS change_type, n_chars
                FROM g2),
         r5 AS (SELECT 5 AS version, 'delete' AS change_type, n_chars
                FROM (SELECT * FROM g0 UNION ALL SELECT * FROM g1
                      UNION ALL SELECT * FROM g2)
                WHERE lang = 'de'),
         feed AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
                  UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
                  UNION ALL SELECT * FROM r5)
         SELECT CAST(version AS BIGINT) AS version, change_type,
                count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM feed GROUP BY 1, 2 ORDER BY 1, 2""",
    // initial snapshot past expiry: the first retained version (v2 =
    // generations 1+2) replays as inserts, then v3's churn as deltas
    "q_avro_cdc_snapshot" ->
      """WITH g0 AS (SELECT n_chars FROM documents WHERE doc_id % 3 = 0),
         g1 AS (SELECT n_chars FROM documents WHERE doc_id % 3 = 1),
         g2 AS (SELECT n_chars FROM documents WHERE doc_id % 3 = 2),
         snap AS (SELECT * FROM g0 UNION ALL SELECT * FROM g1),
         r1 AS (SELECT 2 AS version, 'insert' AS change_type, n_chars
                FROM snap),
         r2 AS (SELECT 3 AS version, 'delete' AS change_type, n_chars
                FROM snap),
         r3 AS (SELECT 3 AS version, 'insert' AS change_type, n_chars
                FROM g2),
         feed AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
                  UNION ALL SELECT * FROM r3)
         SELECT CAST(version AS BIGINT) AS version, change_type,
                count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM feed GROUP BY 1, 2 ORDER BY 1, 2""",
    // the final generation is the odd half; `survived` re-derives the
    // even half's count (the generation the failed REPLACE must keep)
    "q_avro_rtas" ->
      """SELECT c_mktsegment, count(*) AS n_cust,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                  AS BIGINT) AS cents,
                (SELECT count(*) FROM customer WHERE c_custkey % 2 = 0)
                  AS survived
         FROM customer WHERE c_custkey % 2 = 1
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // compaction is logically invisible: full table minus the deletes
    "q_avro_compact_sql" ->
      """SELECT p_brand, count(*) AS n_parts,
                CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
         FROM part WHERE p_partkey NOT IN (2, 3, 5)
         GROUP BY p_brand ORDER BY p_brand""",
    // the view re-resolves over the FULL table (both insert halves)
    "q_avro_view" ->
      """SELECT c_mktsegment, count(*) AS n_cust,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                  AS BIGINT) AS cents
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // the lifecycle's journal/refs/constraint state is fully scripted —
    // the oracle is the literal expectation
    "q_avro_metatables" ->
      """SELECT * FROM (VALUES
           ('v1', 'append', false),
           ('v2', 'append', false),
           ('v3', 'delete', true),
           ('tag:base', 'v1', false),
           ('chk:key_pos', 'r_regionkey >= 0', false))
           t(item, info, has_deletes)
         ORDER BY item, info""",
    // both writes are clustered on the partition column → exactly one
    // file per partition per write; values URL-decode back to the data
    "q_avro_partitions" ->
      """SELECT 'o_orderpriority=' || o_orderpriority AS part,
                2 AS n_files
         FROM orders GROUP BY o_orderpriority ORDER BY part""",
    // refresh ≡ full recompute over all three source generations
    "q_avro_count_grouped" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_avro_count_grouped_del" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
         FROM orders WHERE o_orderkey % 10 <> 3
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_avro_count_grouped_xform" ->
      """SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT)
                  AS n_events
         FROM events GROUP BY 1 ORDER BY 1""",
    // the rid join key is a bijection of l_orderkey, so the oracle
    // joins on l_orderkey directly; n_chunks = ceil(rows / 4096) (the
    // writer cuts a chunk every 4096 rows of the single sorted file)
    "q_avro_block_bloom" ->
      """WITH keys AS (
           SELECT DISTINCT l_orderkey FROM lineitem ORDER BY 1 LIMIT 4),
         nc AS (
           SELECT CAST((count(*) + 4095) // 4096 AS BIGINT) AS n_chunks
           FROM lineitem)
         SELECT l.l_orderkey, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS qty_c,
                (SELECT n_chunks FROM nc) AS n_chunks
         FROM lineitem l JOIN keys k ON k.l_orderkey = l.l_orderkey
         GROUP BY l.l_orderkey ORDER BY l.l_orderkey""",
    // the needle re-derives in SQL from min(l_orderkey); contains() over
    // the reconstructed token column mirrors the chunk-pruned scan
    "q_avro_block_trigram" ->
      """WITH src AS (
           SELECT l_orderkey, l_quantity,
                  'doc w' || substring(md5(CAST(CAST(floor(l_orderkey
                    / 64.0) AS BIGINT) AS VARCHAR)), 1, 10) || ' body'
                    AS txt
           FROM lineitem),
         ndl AS (
           SELECT 'w' || substring(md5(CAST(CAST(floor(min(l_orderkey)
             / 64.0) AS BIGINT) AS VARCHAR)), 1, 10) AS needle
           FROM lineitem),
         nc AS (
           SELECT CAST((count(*) + 4095) // 4096 AS BIGINT) AS n_chunks
           FROM lineitem)
         SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS qty_c,
                (SELECT n_chunks FROM nc) AS n_chunks
         FROM src, ndl WHERE contains(txt, needle)
         GROUP BY l_orderkey ORDER BY l_orderkey""",
    // one file per day per commit ⇒ kept files under the pruned travel
    // read = distinct days in the filter window; the stand-down read
    // keeps every v2 file
    "q_avro_part_days_travel" ->
      """WITH g12 AS (
           SELECT * FROM events
           WHERE ts < TIMESTAMP '2024-01-22 00:00:00'),
         w AS (
           SELECT * FROM g12
           WHERE ts >= TIMESTAMP '2024-01-08 00:00:00')
         SELECT CAST(ts AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                  AS value_m,
                (SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                 FROM w) AS kept_pruned,
                (SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                 FROM g12) AS total_v2,
                (SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                 FROM g12) AS kept_standdown,
                (SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                 FROM g12) AS total_v2b
         FROM w GROUP BY 1 ORDER BY 1""",
    "q_avro_minmax_grouped" ->
      """SELECT o_orderpriority,
                min(o_orderkey) AS min_okey,
                max(o_orderkey) AS max_okey,
                CAST(count(*) AS BIGINT) AS n_orders
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_avro_minmax_grouped_posdel" ->
      """SELECT o_orderpriority,
                min(o_orderkey) AS min_okey,
                max(o_orderkey) AS max_okey,
                CAST(count(*) AS BIGINT) AS n_orders
         FROM orders
         WHERE NOT (o_orderkey % 10 = 3 AND o_orderpriority = '1-URGENT')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_avro_sum_grouped_posdel" ->
      """SELECT o_orderpriority,
                CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
                count(o_orderkey) AS n_okey,
                min(o_orderkey) AS min_okey,
                CAST(count(*) AS BIGINT) AS n_orders
         FROM orders
         WHERE NOT (o_orderkey % 10 = 3 AND o_orderpriority = '2-HIGH')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_avro_cdc_read" ->
      """WITH ins AS (
           SELECT 'insert' AS change_type, l_returnflag, l_quantity
           FROM lineitem WHERE COALESCE(l_orderkey, 0) > 600),
         del AS (
           SELECT 'delete' AS change_type, l_returnflag, l_quantity
           FROM lineitem WHERE COALESCE(l_orderkey, 0) <= 300),
         unioned AS (
           SELECT * FROM ins UNION ALL SELECT * FROM del)
         SELECT change_type, l_returnflag, count(*) AS n_lines,
                round(sum(l_quantity), 2) AS sum_qty
         FROM unioned
         GROUP BY change_type, l_returnflag
         ORDER BY change_type, l_returnflag""",
    "q_avro_sum_meta" ->
      """SELECT CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
                count(l_orderkey) AS n_okey,
                CAST(sum(l_linenumber) AS BIGINT) AS sum_line,
                min(l_orderkey) AS min_okey,
                max(l_orderkey) AS max_okey,
                count(*) AS n_rows
         FROM lineitem""",
    "q_avro_array_scan" ->
      """SELECT label, count(*) AS n_vecs,
                CAST(sum(len(embedding)) AS BIGINT) AS n_elems,
                CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000)
                  AS BIGINT)) AS BIGINT) AS e1_m
         FROM embeddings GROUP BY label ORDER BY label""",
    // the gate's writes are SF-independent (nation is 25 rows at every
    // scale factor), so the coverage matrix is a pinned constant: the
    // 10000-row file carries chunk-level cells, the 25-row file only
    // file-level ones
    "q_avro_stats_table" ->
      """SELECT * FROM (VALUES
           ('block_index', 'k', 'bigint', 1, 2),
           ('bloom', 'v', 'bigint', 2, 2),
           ('chunk_bloom', 'v', 'bloom:bigint', 1, 2),
           ('chunk_trigram', 's', 'trigram:string', 1, 2),
           ('ndv', 'k', 'bigint', 2, 2),
           ('null_cells', 'k', 'cnt:bigint', 2, 2),
           ('null_cells', 's', 'cnt:string', 2, 2),
           ('null_cells', 'v', 'cnt:bigint', 2, 2),
           ('rows', '', '', 2, 2),
           ('sort', 'k', 'verified', 2, 2),
           ('sum_cells', 'k', 'sum:bigint', 2, 2),
           ('sum_cells', 'v', 'sum:bigint', 2, 2),
           ('trigram', 's', 'trigram:string', 2, 2),
           ('zones', 'k', 'bigint', 2, 2),
           ('zones', 's', 'string', 2, 2),
           ('zones', 'v', 'bigint', 2, 2)
         ) t(kind, name, detail, n_files, n_live)
         ORDER BY kind, name, detail""",
    "q_avro_table_props" ->
      """SELECT min(COALESCE(o_orderkey, 0)) AS min_okey,
                max(COALESCE(o_orderkey, 0)) AS max_okey,
                (SELECT count(*) FROM orders
                 WHERE COALESCE(o_orderkey, 0) <= 100) AS n_low
         FROM orders""",
    "q_avro_bloom_ts" ->
      """WITH src AS (
           SELECT TIMESTAMP '2024-01-01 00:00:00' +
                    ((COALESCE(l_orderkey, 0) % 400) * INTERVAL 1 MINUTE)
                    AS tsk,
                  l_quantity
           FROM lineitem)
         SELECT epoch_us(tsk) AS ts_us, count(*) AS n_lines,
                CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS qty_c
         FROM src
         WHERE tsk IN (TIMESTAMP '2024-01-01 00:12:00',
                       TIMESTAMP '2024-01-01 03:20:00',
                       TIMESTAMP '2024-01-01 23:00:00')
         GROUP BY ts_us ORDER BY ts_us""",
    "q_avro_bloom_decimal" ->
      """WITH src AS (
           SELECT CAST((COALESCE(l_orderkey, 0) % 400) * 1.25
                    AS DECIMAL(12,2)) AS price,
                  CAST(l_extendedprice AS DECIMAL(12,2)) AS ext
           FROM lineitem)
         SELECT CAST(price * 100 AS BIGINT) AS price_c,
                count(*) AS n_lines,
                CAST(sum(CAST(ext * 100 AS BIGINT)) AS BIGINT) AS ext_c
         FROM src WHERE price IN (12.5, 100.25, 250)
         GROUP BY price_c ORDER BY price_c""",
    "q_avro_map_scan" ->
      """SELECT l_returnflag, count(*) AS n_lines,
                CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS qty_c,
                CAST(sum(CAST(floor(l_tax * 1000) AS BIGINT))
                  AS BIGINT) AS tax_m,
                CAST(2 * count(*) AS BIGINT) AS n_entries
         FROM lineitem
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_avro_overwrite_part" ->
      """SELECT l_returnflag, count(*) AS n_lines,
                round(sum(CASE WHEN l_returnflag = 'R'
                          THEN l_quantity + 100 ELSE l_quantity END), 2)
                  AS sum_qty
         FROM lineitem
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_avro_analyze" ->
      """SELECT CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
                min(o_orderkey) AS min_okey,
                max(o_orderkey) AS max_okey,
                CAST(sum(o_custkey) AS BIGINT) AS sum_ckey,
                count(*) AS n_rows
         FROM orders""",
    "q_avro_sum_filtered" ->
      """SELECT CAST(sum(COALESCE(l_orderkey, 0)) AS BIGINT) AS sum_okey,
                min(COALESCE(l_orderkey, 0)) AS min_okey,
                max(COALESCE(l_orderkey, 0)) AS max_okey,
                CAST(sum(l_linenumber) AS BIGINT) AS sum_line,
                count(*) AS n_rows
         FROM lineitem WHERE COALESCE(l_orderkey, 0) > 600""",
    "q_avro_sum_grouped" ->
      """SELECT o_orderpriority,
                CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
                count(o_orderkey) AS n_okey,
                CAST(count(*) AS BIGINT) AS n_orders
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_avro_delete_ranged" ->
      """SELECT l_returnflag, count(*) AS n_lines,
                round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem WHERE l_orderkey <= 600
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_avro_delete_mor" ->
      """SELECT l_returnflag, count(*) AS n_lines,
                round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem WHERE COALESCE(l_orderkey, 0) % 7 <> 3
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_avro_update_mor" ->
      """SELECT l_returnflag, count(*) AS n_lines,
                round(sum(CASE WHEN COALESCE(l_orderkey, 0) % 11 = 5
                          THEN l_quantity + 100 ELSE l_quantity END), 2)
                  AS sum_qty
         FROM lineitem
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_avro_matview_join" ->
      """SELECT c_mktsegment, o_orderpriority,
                count(*) AS n_orders,
                CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment, o_orderpriority
         ORDER BY c_mktsegment, o_orderpriority""",
    // the counting-maintained view must equal the join over the FULL
    // left (v1 ∪ v2) and the delete-filtered right — BUILDING vanished
    "q_avro_matview_join_del" ->
      """SELECT c_mktsegment, o_orderpriority,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment <> 'BUILDING'
         GROUP BY c_mktsegment, o_orderpriority
         ORDER BY c_mktsegment, o_orderpriority""",
    "q_avro_matview_3way" ->
      """SELECT n_name, o_orderpriority,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM orders JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey
         WHERE c_mktsegment <> 'BUILDING'
         GROUP BY n_name, o_orderpriority
         ORDER BY n_name, o_orderpriority""",
    "q_avro_matview" ->
      """WITH orig AS (
           SELECT l_returnflag, l_quantity, l_extendedprice
           FROM lineitem),
         e5 AS (
           SELECT l_returnflag, l_quantity, l_extendedprice
           FROM lineitem WHERE l_orderkey % 5 = 0),
         e7 AS (
           SELECT l_returnflag, l_quantity, l_extendedprice
           FROM lineitem WHERE l_orderkey % 7 = 0),
         unioned AS (
           SELECT * FROM orig
           UNION ALL SELECT * FROM e5
           UNION ALL SELECT * FROM e7)
         SELECT l_returnflag AS flag, count(*) AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents,
                CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS qty_c
         FROM unioned GROUP BY flag ORDER BY flag""",
    // the staleness-budget read equals the full two-generation
    // recompute — no refresh call appears in the gate
    "q_avro_matview_stale" ->
      """WITH orig AS (
           SELECT l_returnflag, l_quantity FROM lineitem),
         e3 AS (
           SELECT l_returnflag, l_quantity FROM lineitem
           WHERE l_orderkey % 3 = 0),
         unioned AS (
           SELECT * FROM orig UNION ALL SELECT * FROM e3)
         SELECT l_returnflag AS flag, count(*) AS n_lines,
                CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS qty_c
         FROM unioned GROUP BY flag ORDER BY flag""",
    // the delta-maintained view equals the live recompute: generations
    // 1+2 minus every English row (equality delete stamped before v4),
    // plus the post-delete non-English %7 append; the fully-deleted en
    // group vanishes via the combine's HAVING
    "q_avro_matview_del" ->
      """WITH g1 AS (SELECT lang, n_chars FROM documents),
         g2 AS (SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 1),
         g12 AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
         kept AS (SELECT lang, n_chars FROM g12 WHERE lang <> 'en'),
         g4 AS (SELECT lang, n_chars FROM documents
                WHERE doc_id % 7 = 0 AND lang <> 'en'),
         fin AS (SELECT * FROM kept UNION ALL SELECT * FROM g4)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars
         FROM fin GROUP BY lang ORDER BY lang""",
    // post-lifecycle state = v1 (rollback undid the doubled insert)
    // plus the constrained nationkey<5 re-insert
    // the smuggled container is exactly 25 nation-derived rows, each
    // violating both constraints; write-path rows contribute zero
    "q_avro_validate" ->
      """SELECT * FROM (VALUES (2, 50, 'qty_pos=25,key_cap=25'))
         t(n_constraints, violations, detail)""",
    "q_avro_call" ->
      """WITH orig AS (SELECT s_nationkey, s_acctbal FROM supplier),
         extra AS (SELECT s_nationkey, s_acctbal FROM supplier
                   WHERE s_nationkey < 5),
         unioned AS (SELECT * FROM orig UNION ALL SELECT * FROM extra)
         SELECT s_nationkey, count(*) AS n_supp,
                CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT))
                  AS BIGINT) AS cents
         FROM unioned GROUP BY s_nationkey ORDER BY s_nationkey""",
    // both constrained generations: the full table + the %7 re-append
    "q_avro_constraint" ->
      """WITH orig AS (SELECT l_returnflag, l_quantity FROM lineitem),
         extra AS (SELECT l_returnflag, l_quantity FROM lineitem
                   WHERE l_orderkey % 7 = 0),
         unioned AS (SELECT * FROM orig UNION ALL SELECT * FROM extra)
         SELECT l_returnflag, count(*) AS n_lines,
                round(sum(l_quantity), 2) AS sum_qty
         FROM unioned GROUP BY l_returnflag ORDER BY l_returnflag""",
    // pre-ALTER rows (regionkey < 3) read the added column as null →
    // coalesce(-1); post-ALTER inserts carry key*10
    "q_avro_addcol_nested" ->
      """WITH agg AS (
           SELECT n_regionkey AS rk, count(*) AS n_rows,
                  CAST(sum(CASE WHEN n_regionkey >= 3
                           THEN n_nationkey * 10 ELSE -1 END)
                    AS BIGINT) AS bonus_sum,
                  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
           FROM nation GROUP BY n_regionkey),
         pre AS (
           SELECT -1 AS rk, count(*) AS n_rows,
                  CAST(-99 AS BIGINT) AS bonus_sum,
                  CAST(-99 AS BIGINT) AS key_sum
           FROM nation WHERE n_regionkey < 3),
         unioned AS (SELECT * FROM agg UNION ALL SELECT * FROM pre)
         SELECT * FROM unioned ORDER BY rk""",
    "q_avro_addcol" ->
      """SELECT n_regionkey, count(*) AS n_rows,
                CAST(sum(CASE WHEN n_regionkey >= 3
                         THEN n_nationkey * 10 ELSE -1 END)
                  AS BIGINT) AS bonus_sum,
                CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
                count(*) AS n_std
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    // the full original table (read through the renamed column) plus
    // the post-drop inserts at doubled price
    "q_avro_dropcol" ->
      """WITH orig AS (
           SELECT o_orderstatus, o_totalprice AS price FROM orders),
         dbl AS (
           SELECT o_orderstatus, o_totalprice * 2 AS price FROM orders
           WHERE o_orderkey % 10 = 0),
         unioned AS (SELECT * FROM orig UNION ALL SELECT * FROM dbl)
         SELECT o_orderstatus, count(*) AS n_orders,
                CAST(sum(CAST(round(price * 100) AS BIGINT))
                  AS BIGINT) AS cents
         FROM unioned GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // rollback restores exactly version 1 = the unfiltered nation set
    "q_avro_rollback" ->
      """SELECT n_regionkey, count(*) AS n_nations,
                CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
                CAST(sum(length(n_name)) AS BIGINT) AS name_len
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "q_avro_update" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
                CAST(sum(CAST(round((CASE WHEN o_orderstatus = 'F'
                       THEN o_totalprice * 2 ELSE o_totalprice END) * 100)
                  AS BIGINT)) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey % 100 >= 3
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_avro_sqlddl" ->
      """SELECT c_mktsegment, count(*) AS n_cust,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                  AS BIGINT) AS cents
         FROM customer WHERE c_custkey NOT IN (1, 7, 42)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_avro_metacols" ->
      """SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1
                AS pos,
              l_orderkey, l_linenumber
         FROM lineitem QUALIFY pos < 1000 ORDER BY pos""",
    "q_avro_posdel" ->
      """WITH o AS (
           SELECT l_returnflag, l_quantity,
                  row_number() OVER (ORDER BY l_orderkey, l_linenumber)
                    - 1 AS p
           FROM lineitem)
         SELECT l_returnflag, count(*) AS n_lines,
                round(sum(l_quantity), 2) AS sum_qty
         FROM o WHERE p NOT IN (0, 17, 999)
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_avro_rename" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents_total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_avro_partevolve" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents_total
         FROM orders WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_avro_minmax_any" ->
      """SELECT min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
                max(l_suppkey) AS max_supp,
                min(l_returnflag) AS min_flag, max(l_returnflag) AS max_flag
         FROM lineitem""",
    "q_avro_zonemap_any" ->
      """SELECT l_returnflag, count(*) AS n_lines,
                round(sum(l_quantity), 2) AS sum_qty,
                max(l_orderkey) AS max_key
         FROM lineitem WHERE l_suppkey < 50
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    // each CTE re-derives one historical version's content from the
    // source table: v1 = first overwrite, v2 = + append, v3 = v2 minus
    // the equality delete, v4 = final overwrite (delete cleared)
    "q_avro_timetravel" ->
      """WITH v1 AS (SELECT * FROM nation WHERE n_regionkey < 2),
              v2 AS (SELECT * FROM nation WHERE n_regionkey < 4),
              v3 AS (SELECT * FROM nation
                     WHERE n_regionkey < 4 AND n_regionkey <> 1),
              v4 AS (SELECT * FROM nation WHERE n_regionkey >= 3)
         SELECT 1 AS version, count(*) AS n_rows,
                CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
                CAST(sum(length(n_name)) AS BIGINT) AS name_len FROM v1
         UNION ALL
         SELECT 2, count(*), CAST(sum(n_nationkey) AS BIGINT),
                CAST(sum(length(n_name)) AS BIGINT) FROM v2
         UNION ALL
         SELECT 3, count(*), CAST(sum(n_nationkey) AS BIGINT),
                CAST(sum(length(n_name)) AS BIGINT) FROM v3
         UNION ALL
         SELECT 4, count(*), CAST(sum(n_nationkey) AS BIGINT),
                CAST(sum(length(n_name)) AS BIGINT) FROM v4
         ORDER BY version""",
    // v1 = rk<3; v3 = (rk<3 minus the rk=1 delete) + rk>=3 appends:
    // added = rk>=3, removed = rk=1
    "q_avro_diff" ->
      """SELECT 'added' AS change, count(*) AS n_rows,
                CAST(sum(n_nationkey) AS BIGINT) AS sum_key
         FROM nation WHERE n_regionkey >= 3
         UNION ALL
         SELECT 'removed', count(*), CAST(sum(n_nationkey) AS BIGINT)
         FROM nation WHERE n_regionkey = 1
         ORDER BY change""",
    // direct recompute of the v3 state the incremental algebra must hit:
    // v1 (doc_id%3!=0) ∪ v2 appends (doc_id%6=0) minus the deleted ids
    "q_avro_agg_incr" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents
         WHERE (doc_id % 3 <> 0 OR doc_id % 6 = 0)
           AND doc_id NOT IN (2, 4, 6, 8, 10)
         GROUP BY lang
         HAVING count(*) > 0
         ORDER BY lang""",
    // the journal replay is fully determined by the gate's script:
    // 2-file overwrite, 1-file append, sidecar delete, 1-file truncate
    // (which also clears the sidecar)
    "q_avro_history" ->
      """SELECT * FROM (VALUES
           (1, 'overwrite', 2, false),
           (2, 'append',    3, false),
           (3, 'delete',    3, true),
           (4, 'overwrite', 1, false))
           AS t(version, kind, n_files, has_deletes)
         ORDER BY version""",
    // the audited publish lands: odd ids staged with source 'staged',
    // even ids unchanged
    "q_avro_wap" ->
      """SELECT CASE WHEN doc_id % 2 = 1 THEN 'staged' ELSE source END
                  AS src,
                count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents GROUP BY 1 ORDER BY src""",
    // fold the merge script over the parquet source: base minus the two
    // deleted ids, then each update batch as delete-matched + union
    "q_avro_merge" ->
      """WITH live AS (
           SELECT doc_id, text, lang, source, n_chars FROM documents
           WHERE doc_id NOT IN (8, 16)),
         u1 AS (
           SELECT doc_id, text, lang, 'm1' AS source,
                  n_chars * 10 AS n_chars
           FROM documents WHERE doc_id % 4 = 1),
         v1 AS (
           SELECT * FROM live
           WHERE doc_id NOT IN (SELECT doc_id FROM u1)
           UNION ALL SELECT * FROM u1),
         u2 AS (
           SELECT doc_id, text, lang, 'm2' AS source,
                  n_chars * 100 AS n_chars
           FROM documents WHERE doc_id % 6 = 3 OR doc_id = 8),
         v2 AS (
           SELECT * FROM v1
           WHERE doc_id NOT IN (SELECT doc_id FROM u2)
           UNION ALL SELECT * FROM u2)
         SELECT source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                CAST(sum(length(text)) AS BIGINT) AS text_len
         FROM v2 GROUP BY source ORDER BY source""",
    // the clone serves the PRE-divergence snapshot exactly
    "q_avro_clone" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // content survives the partition-scoped compaction minus the
    // materialized deletes; the compacted partition is one file
    "q_avro_compact_part" ->
      """SELECT l_returnflag, count(*) AS n_lines,
                CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS qty_c,
                CAST(1 AS BIGINT) AS files_r
         FROM lineitem WHERE COALESCE(l_orderkey, 0) NOT IN (3, 8)
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    // three-clause MERGE closed form: the table becomes exactly the
    // source key set — matched keys at val*10, source-only at val,
    // target-only gone (NOT MATCHED BY SOURCE DELETE)
    "q_avro_merge_sql" ->
      """WITH t0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
         src AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS val
                 FROM documents WHERE doc_id % 2 = 0),
         merged AS (
           SELECT s.doc_id,
                  CASE WHEN t.doc_id IS NOT NULL THEN s.val * 10
                       ELSE s.val END AS val
           FROM src s LEFT JOIN t0 t ON t.doc_id = s.doc_id)
         SELECT count(*) AS n_rows, CAST(sum(val) AS BIGINT) AS val_sum,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM merged""",
    // closed form of the evolving merge: every source row lands
    // (matched updated in place, unmatched inserted) carrying score;
    // target-only rows (id % 3 = 0 but odd wrt 2) keep a NULL score
    "q_avro_merge_evolve" ->
      """WITH mb AS (SELECT COALESCE(doc_id, 0) AS doc_id,
                            CAST(n_chars AS BIGINT) AS val
                     FROM documents WHERE COALESCE(doc_id, 0) % 3 = 0),
              ms AS (SELECT COALESCE(doc_id, 0) AS doc_id,
                            CAST(n_chars AS BIGINT) AS val,
                            COALESCE(doc_id, 0) * 7 AS score
                     FROM documents WHERE COALESCE(doc_id, 0) % 2 = 0),
              mk AS (SELECT doc_id, val, CAST(NULL AS BIGINT) AS score
                     FROM mb WHERE doc_id % 2 <> 0),
              mfin AS (SELECT * FROM mk UNION ALL SELECT * FROM ms)
         SELECT count(*) AS n_rows,
                CAST(sum(val) AS BIGINT) AS val_sum,
                CAST(sum(score) AS BIGINT) AS score_sum,
                count(score) AS n_scored
         FROM mfin""",
    "q_avro_cluster" ->
      """SELECT 'by_id' AS dim, count(*) AS n_rows,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents WHERE doc_id < 40
         UNION ALL
         SELECT 'by_len', count(*), CAST(sum(n_chars) AS BIGINT)
         FROM documents WHERE n_chars >= 900
         ORDER BY dim""",
    "q_avro_bloom" ->
      """SELECT 'by_id' AS probe, count(*) AS n_rows,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents WHERE doc_id IN (3, 57, 211)
         UNION ALL
         SELECT 'by_source', count(*), CAST(sum(n_chars) AS BIGINT)
         FROM documents WHERE source = 'src7'
         ORDER BY probe""",
    // DuckDB evaluates the substring predicates directly — agreement
    // proves the trigram-pruned read lost no matching file
    "q_avro_trigram" ->
      """SELECT 'contains' AS probe, count(*) AS n_rows,
                coalesce(CAST(sum(n_chars) AS BIGINT), 0) AS chars
         FROM documents WHERE contains(text, 'the')
         UNION ALL
         SELECT 'absent', count(*),
                coalesce(CAST(sum(n_chars) AS BIGINT), 0)
         FROM documents WHERE contains(text, 'zqxjkvbn')
         UNION ALL
         SELECT 'prefix', count(*),
                coalesce(CAST(sum(n_chars) AS BIGINT), 0)
         FROM documents WHERE starts_with(source, 'src1')
         ORDER BY probe""",
    // range (1, latest] = regionkeys 1..3; (2, 3] = regionkeys 2..3;
    // (0, latest] = the whole table
    "q_avro_incremental" ->
      """SELECT 1 AS range_id, count(*) AS n_rows,
                CAST(sum(n_nationkey) AS BIGINT) AS sum_key
         FROM nation WHERE n_regionkey IN (1, 2, 3)
         UNION ALL
         SELECT 2, count(*), CAST(sum(n_nationkey) AS BIGINT)
         FROM nation WHERE n_regionkey IN (2, 3)
         UNION ALL
         SELECT 3, count(*), CAST(sum(n_nationkey) AS BIGINT)
         FROM nation WHERE n_regionkey IN (0, 1, 2, 3)
         ORDER BY range_id""",
    "q_avro_delete" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                CAST(sum(length(text)) AS BIGINT) AS text_len
         FROM documents
         WHERE source NOT IN ('src3', 'src7')
           AND doc_id NOT IN (11, 22, 33)
         GROUP BY lang ORDER BY lang""",
    "q_avro_widen" ->
      """SELECT p_brand, count(*) AS n,
                CAST(sum(CASE WHEN p_partkey % 2 = 0
                  THEN CAST(p_size AS BIGINT)
                  ELSE CAST(p_size AS BIGINT) * 1000000000 END)
                  AS BIGINT) AS size_sum,
                CAST(max(CASE WHEN p_partkey % 2 = 0
                  THEN CAST(p_size AS BIGINT)
                  ELSE CAST(p_size AS BIGINT) * 1000000000 END)
                  AS BIGINT) AS size_max
         FROM part GROUP BY p_brand ORDER BY p_brand""",
    // net diff reconstructed from the raw table: inserts = v2 appends
    // surviving the v3 delete; deletes = v1 rows the delete killed; a
    // v2 append with source='src2' appears in NEITHER (net nothing)
    "q_avro_cdc" ->
      """WITH ins AS (
           SELECT 'insert' AS change, lang, n_chars FROM documents
           WHERE doc_id % 4 = 1 AND source <> 'src2'),
         del AS (
           SELECT 'delete' AS change, lang, n_chars FROM documents
           WHERE doc_id % 4 = 0 AND source = 'src2'),
         ch AS (SELECT * FROM ins UNION ALL SELECT * FROM del)
         SELECT change, lang, count(*) AS n,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM ch GROUP BY change, lang ORDER BY change, lang""",
    "q_avro_compact" ->
      """WITH live AS (SELECT * FROM documents WHERE source <> 'src5')
         SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                (SELECT min(doc_id) FROM live) AS min_id,
                (SELECT max(doc_id) FROM live) AS max_id
         FROM live GROUP BY lang ORDER BY lang""",
    "q_avro_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                CAST(sum(length(text)) AS BIGINT) AS text_len
         FROM documents WHERE lang IN ('en','de','fr')
         GROUP BY lang ORDER BY lang""",
    "q_avro_spj" ->
      """SELECT lang, CAST(sum(n_chars) AS BIGINT) AS chars,
                count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang""",
    "q_avro_nulls" ->
      """WITH g0 AS (SELECT doc_id, lang FROM documents
                     WHERE doc_id % 3 = 0),
         g1 AS (SELECT doc_id, CAST(NULL AS VARCHAR) AS lang
                FROM documents WHERE doc_id % 3 = 1),
         g2 AS (SELECT doc_id,
                       CASE WHEN doc_id % 2 = 0 THEN lang END AS lang
                FROM documents WHERE doc_id % 3 = 2),
         u AS (SELECT * FROM g0 UNION ALL SELECT * FROM g1
               UNION ALL SELECT * FROM g2)
         SELECT (lang IS NULL) AS is_null, count(*) AS n_rows,
                count(lang) AS n_lang,
                CAST(min(doc_id) AS BIGINT) AS min_id,
                CAST(max(doc_id) AS BIGINT) AS max_id
         FROM u GROUP BY 1 ORDER BY 1""",
    "q_avro_nulls_float" ->
      """WITH g0 AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS x
                     FROM documents WHERE doc_id % 3 = 0),
         g1 AS (SELECT doc_id, CAST(NULL AS DOUBLE) AS x
                FROM documents WHERE doc_id % 3 = 1),
         g2 AS (SELECT doc_id,
                       CASE WHEN doc_id % 2 = 0 THEN CAST('NaN' AS DOUBLE)
                            ELSE CAST(n_chars AS DOUBLE) END AS x
                FROM documents WHERE doc_id % 3 = 2),
         u AS (SELECT * FROM g0 UNION ALL SELECT * FROM g1
               UNION ALL SELECT * FROM g2)
         SELECT (SELECT count(*) FROM u WHERE x IS NULL) AS n_null,
                (SELECT CAST(min(doc_id) AS BIGINT) FROM u
                 WHERE x IS NULL) AS min_null,
                (SELECT CAST(max(doc_id) AS BIGINT) FROM u
                 WHERE x IS NULL) AS max_null,
                (SELECT count(*) FROM u WHERE x IS NOT NULL) AS n_val,
                (SELECT count(x) FROM u WHERE x IS NOT NULL) AS n_x""",
    "q_avro_bucket_prune" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id IN (7, 11, 12, 13, 101) ORDER BY doc_id""",
    "q_avro_part_days" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                  AS value_m
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
           AND ts < TIMESTAMP '2024-01-22 00:00:00'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_avro_bucket_join" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents WHERE doc_id % 3 = 0
         GROUP BY lang ORDER BY lang""",
    "q_avro_evolve" ->
      """WITH u AS (
           SELECT source, CAST(n_chars AS BIGINT) AS score,
                  CAST(NULL AS VARCHAR) AS lang
           FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT source, CAST(n_chars AS BIGINT) * 2 AS score, lang
           FROM documents WHERE doc_id % 2 = 1)
         SELECT source, count(*) AS n_docs,
                CAST(sum(score) AS BIGINT) AS sum_score,
                CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_old,
                count(lang) AS n_new
         FROM u GROUP BY source ORDER BY source""",
    "q_merge_publish" ->
      """WITH v1 AS (
           SELECT doc_id, CAST(n_chars AS BIGINT) AS val, 1 AS ver
           FROM documents WHERE doc_id % 3 = 0),
         d2 AS (
           SELECT doc_id, CAST(n_chars * 10 AS BIGINT) AS val, 2 AS ver
           FROM documents WHERE doc_id % 3 = 1 OR doc_id % 6 = 0),
         v2 AS (
           SELECT COALESCE(d.doc_id, b.doc_id) AS doc_id,
                  COALESCE(d.val, b.val) AS val,
                  COALESCE(d.ver, b.ver) AS ver
           FROM v1 b FULL OUTER JOIN d2 d ON b.doc_id = d.doc_id),
         d3 AS (
           SELECT doc_id, CAST(n_chars * 100 AS BIGINT) AS val, 3 AS ver
           FROM documents WHERE doc_id % 3 = 2 OR doc_id % 6 = 1),
         v3 AS (
           SELECT COALESCE(d.doc_id, b.doc_id) AS doc_id,
                  COALESCE(d.val, b.val) AS val,
                  COALESCE(d.ver, b.ver) AS ver
           FROM v2 b FULL OUTER JOIN d3 d ON b.doc_id = d.doc_id)
         SELECT doc_id, val, ver FROM v3 ORDER BY doc_id""",
    "q_avro_stream" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                CAST(sum(length(text)) AS BIGINT) AS text_len
         FROM documents GROUP BY lang ORDER BY lang""",
    // survivors of the base = doc_id % 3 = 2 (u1 replaced %3=0, u2
    // replaced %3=1); u3 inserted fresh ids beyond the corpus
    "q_stream_merge" ->
      """WITH fin AS (
           SELECT doc_id, lang, n_chars, 0 AS ver FROM documents
           WHERE doc_id % 3 = 2
           UNION ALL
           SELECT doc_id, lang, n_chars * 10, 1 FROM documents
           WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id, lang, n_chars * 100, 2 FROM documents
           WHERE doc_id % 3 = 1
           UNION ALL
           SELECT doc_id + 10000, lang, n_chars, 3 FROM documents
           WHERE doc_id % 5 = 0)
         SELECT ver, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                count(DISTINCT lang) AS n_langs
         FROM fin GROUP BY ver ORDER BY ver""",
    "q_stream_upsert_mor" ->
      """WITH fin AS (
           SELECT doc_id, lang, n_chars, 0 AS ver FROM documents
           WHERE doc_id % 3 = 2
           UNION ALL
           SELECT doc_id, lang, n_chars * 10, 1 FROM documents
           WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id, lang, n_chars * 100, 2 FROM documents
           WHERE doc_id % 3 = 1
           UNION ALL
           SELECT doc_id + 10000, lang, n_chars, 3 FROM documents
           WHERE doc_id % 5 = 0)
         SELECT ver, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                count(DISTINCT lang) AS n_langs
         FROM fin GROUP BY ver ORDER BY ver""",
    "q_stream_window" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                  AS value_m
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_stream_dedup" ->
      """SELECT DISTINCT md5(text) AS h FROM documents
         WHERE text IS NOT NULL ORDER BY h""",
    // Spark's tumbling window('1 week') aligns to the 1970-01-01 epoch,
    // NOT to DuckDB's Monday date_trunc('week') — bucket by epoch
    // arithmetic. floor() before the BIGINT cast: DuckDB casts
    // double→int by ROUNDING, which would shift timestamps within 0.5 s
    // of a boundary into the wrong week.
    "q_stream_enrich" ->
      """SELECT TIMESTAMP '1970-01-01'
                  + ((CAST(floor(epoch(ts)) AS BIGINT) // 604800) * 604800)
                    * INTERVAL 1 SECOND AS week,
                n.n_name, count(*) AS n_events,
                CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                  AS value_m
         FROM events e
         JOIN nation n
           ON ((e.user_id % 25) + 25) % 25 = n.n_nationkey
         GROUP BY 1, 2 ORDER BY 1, 2"""
  )
}
