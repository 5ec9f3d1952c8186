package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import Lineage.CutOps

/** Driver-graded Structured Streaming gates — the streaming surface
  * (graft micro-batch file source, watermarked windowed aggregation with
  * late-data drop, flatMapGroupsWithState dedup) proven through the same
  * Verify/DuckDB oracle pipeline as every batch operator. Each gate runs a
  * real streaming query to completion inside the query function
  * (deterministic input, bounded batches) and returns the materialized
  * result; the oracle is the closed-form expected output.
  *
  * The reference has no streaming (every scan is Boundedness::Bounded,
  * exon/exon-core/src/datasources/exon_file_scan_config.rs:58) — this
  * surface is rebuild-only, SURVEY §2.6 stretch.
  */
object StreamQueries {
  type Q = (SparkSession, String) => DataFrame

  private def gateDir(name: String): java.io.File = {
    val d = new java.io.File(
      sys.props.get("java.io.tmpdir").getOrElse("/tmp"), s"graft_gate_$name")
    d.mkdirs()
    d
  }

  private def memName(p: String): String =
    p + java.util.UUID.randomUUID.toString.replace("-", "").take(12)

  /** The stateful gates carry a handful of keys; their cost is pure state
    * store overhead (instances × micro-batches = shuffle partitions ×
    * batches, each with a checkpoint commit). Pin the STREAMING state
    * partitioning to 2 for the duration of the gate — a real deployment
    * sizes this to key cardinality, and 32 one-key state stores per batch
    * is waste, not work. Restored afterwards; Verify/Bench run queries
    * sequentially so the temporary session conf cannot leak into another
    * query's plan.
    */
  private def withTinyStreamState[T](s: SparkSession)(body: => T): T = {
    // s02/s04 rely on the no-data micro-batch that fires after a watermark
    // advance to emit finalized windows / fire event-time timeouts; pin the
    // behavior rather than inheriting whatever the session default is.
    // Both keys snapshot/restore so nothing leaks past the gate.
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val saved = keys.map(k => k -> s.conf.getOption(k))
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    // RocksDB provider A/B (r17 opt round, 2 interleaved windows x 5
    // stateful gates): neutral-to-WORSE everywhere (s05 2.2 -> 2.6-2.7 s,
    // s02/s04/s09 ~5-20% slower, s03 a wash) — the native store's per-
    // query setup dwarfs the handful-of-keys state these gates carry. The
    // HDFS-backed default stays; at real key cardinality re-measure.
    try body finally saved.foreach { case (k, v) =>
      v match { case Some(x) => s.conf.set(k, x); case None => s.conf.unset(k) }
    }
  }

  private def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

  val queries: Map[String, Q] = Map(
    // The graft DSv2 source read as a STREAM: 4 FASTA files arrive as
    // micro-batches through GraftMicroBatchStream (AvailableNow drains
    // them and terminates); a complete-mode aggregate proves the rows
    // flowed through the streaming scan, not a batch scan.
    "s01_stream_fasta_scan" -> ((s, _) => {
      withTinyStreamState(s) {
      val dir = gateDir("stream_fasta")
      val done = new java.io.File(dir, "_done")
      if (!done.exists()) {
        (0 until 4).foreach { i =>
          val w = new java.io.BufferedWriter(
            new java.io.FileWriter(new java.io.File(dir, s"p$i.fasta")), 1 << 16)
          (0 until 250).foreach { j =>
            w.write(s">p${i}_$j\n${"ACGT" * (j % 5 + 1)}\n")
          }
          w.close()
        }
        done.createNewFile()
      }
      val name = memName("s01m")
      val q = s.readStream.format("fasta").load(dir.getAbsolutePath)
        .groupBy(substring(col("id"), 1, 2).as("shard"))
        .agg(count(lit(1)).as("n_records"),
          sum(length(col("sequence"))).as("sum_len"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy(col("shard"))
      }
    }),

    // Watermarked tumbling-window counts in APPEND mode: the first window
    // emits only once the watermark passes it (via the no-data batch after
    // the second addData advances the watermark); an event older than the
    // watermark is DROPPED — proven by the absence of its window in the
    // result. Window start surfaces as epoch millis so the oracle is a
    // timezone-free literal.
    "s02_stream_window_counts" -> ((s, _) => {
      withTinyStreamState(s) {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, String)]
      val df = in.toDF().toDF("ts", "kind")
      val name = memName("s02m")
      val q = graft.streaming.StreamingOps
        .windowedEventCounts(df, "ts", "kind", "10 minutes", "5 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      in.addData((ts(0), "click"), (ts(1), "click"), (ts(2), "view"))
      q.processAllAvailable()
      // ts(60) advances the watermark far past the first window; ts(-10)
      // is older than the watermark -> dropped (its window never appears)
      in.addData((ts(60), "click"), (ts(-10), "view"))
      q.processAllAvailable()
      q.stop()
      s.table(name)
        .select(unix_millis(col("window_start")).as("w_ms"), col("kind"),
          col("n"))
        .orderBy(col("w_ms"), col("kind"))
      }
    }),

    // Streaming exact dedup via flatMapGroupsWithState: a document emits
    // the FIRST time its content hash is seen, across batches; later
    // sightings are dropped from the stream.
    "s03_stream_dedup" -> ((s, _) => {
      withTinyStreamState(s) {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.DocEvent]
      val name = memName("s03m")
      val q = graft.streaming.StreamingOps
        .dedupByHash(in.toDS(), watermark = "10 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      in.addData(graft.streaming.DocEvent(1, "h1", ts(0)),
        graft.streaming.DocEvent(2, "h1", ts(1)),
        graft.streaming.DocEvent(3, "h2", ts(1)))
      q.processAllAvailable()
      in.addData(graft.streaming.DocEvent(4, "h1", ts(2)),
        graft.streaming.DocEvent(5, "h3", ts(3)))
      q.processAllAvailable()
      q.stop()
      s.table(name).select(col("doc_id"), col("hash")).orderBy(col("doc_id"))
      }
    }),

    // Gap-based sessionization via mapGroupsWithState: an in-batch gap
    // closes a session immediately; the trailing open session closes by
    // event-time TIMEOUT once the watermark passes session_end + gap
    // (timeouts fire the batch after the watermark advances, hence the
    // second poke). Session bounds surface as minute offsets.
    "s04_stream_sessionize" -> ((s, _) => {
      withTinyStreamState(s) {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.UserEvent]
      val name = memName("s04m")
      val q = graft.streaming.StreamingOps
        .sessionize(in.toDS(), gapMs = 30L * 60000, watermark = "10 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      in.addData(graft.streaming.UserEvent(1, ts(0)),
        graft.streaming.UserEvent(1, ts(1)),
        graft.streaming.UserEvent(1, ts(2)),
        graft.streaming.UserEvent(1, ts(50)))
      q.processAllAvailable()
      in.addData(graft.streaming.UserEvent(2, ts(200)))
      q.processAllAvailable()
      in.addData(graft.streaming.UserEvent(2, ts(201)))
      q.processAllAvailable()
      q.stop()
      // user 2's session is still open when the stream stops — only user
      // 1's two closed sessions are graded
      s.table(name).filter(col("user_id") === 1)
        .select(col("user_id"),
          ((unix_millis(col("session_start")) - 1700000000000L) / 60000L)
            .cast("long").as("start_min"),
          ((unix_millis(col("session_end")) - 1700000000000L) / 60000L)
            .cast("long").as("end_min"),
          col("n_events"))
        .orderBy(col("start_min"))
      }
    }),

    // Stream-stream interval join (click attribution): both sides
    // watermarked, two-sided event-time range condition (what lets Spark
    // evict join buffers); a click beyond the horizon and a click with no
    // impression do NOT attribute, and a click buffered BEFORE its
    // impression arrives still matches once it lands.
    "s05_stream_interval_join" -> ((s, _) => {
      withTinyStreamState(s) {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val impIn = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp)]
      val clkIn = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp)]
      val name = memName("s05m")
      val q = graft.streaming.StreamingOps.clickAttribution(
          impIn.toDF().toDF("ad_id", "ts"), clkIn.toDF().toDF("ad_id", "ts"),
          horizonMinutes = 30, watermark = "10 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      impIn.addData((1L, ts(0)), (2L, ts(5)))
      clkIn.addData((1L, ts(10)), (1L, ts(45)), (3L, ts(12)))
      q.processAllAvailable()
      clkIn.addData((2L, ts(20)))
      q.processAllAvailable()
      q.stop()
      s.table(name)
        .select(col("ad_id"),
          ((unix_millis(col("imp_ts")) - 1700000000000L) / 60000L)
            .cast("long").as("imp_min"),
          ((unix_millis(col("click_ts")) - 1700000000000L) / 60000L)
            .cast("long").as("click_min"))
        .orderBy(col("ad_id"))
      }
    }),

    // Streaming == batch on REAL data: the sf events table read through
    // the file-stream source (AvailableNow), hourly tumbling windows per
    // event_type in complete mode — the graded result must equal DuckDB's
    // batch date_trunc aggregation over the same parquet. Replicates
    // Tables.events' ts-encoding adaptation (TIMESTAMP_NANOS-as-long /
    // NTZ / LTZ) on the streaming side.
    "s06_stream_events_hourly" -> ((s, d) => {
      withTinyStreamState(s) {
        // nanosAsLong is already set session-wide by Tables (Tables.scala);
        // no per-gate mutation needed here
        val path = s"$d/events.parquet"
        // FileStreamSource wants a DIRECTORY; expose the single-file table
        // through a symlink in a per-sfdir gate dir (one-time setup).
        val slug = d.replaceAll("[^A-Za-z0-9]", "_")
        val dir = gateDir(s"stream_events_$slug")
        val link = new java.io.File(dir, "events.parquet").toPath
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(
            link, java.nio.file.Paths.get(path))
        val raw = s.read.parquet(path)
        val stream0 = s.readStream.schema(raw.schema)
          .parquet(dir.getAbsolutePath)
        val stream = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            stream0.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          case org.apache.spark.sql.types.TimestampNTZType =>
            stream0.withColumn("ts",
              col("ts").cast(org.apache.spark.sql.types.TimestampType))
          case _ => stream0
        }
        val name = memName("s06m")
        val q = stream
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(name)
          .select(unix_millis(col("window.start")).as("w_ms"),
            col("event_type"), col("n"))
          .orderBy(col("w_ms"), col("event_type"))
      }
    }),

    // Admission control: the drain of 6 files under maxFilesPerTrigger=2
    // must land in bounded micro-batches (>= 3 data-carrying batches) and
    // still produce exactly the all-at-once answer. At a landing zone this
    // is what keeps one giant catch-up batch from holding hours of progress
    // hostage; the gate REFUSES to grade if the limit didn't bound the
    // batches, so a silent fall-back to all-available cannot pass.
    "s07_stream_bounded_batches" -> ((s, _) => {
      withTinyStreamState(s) {
      val dir = gateDir("stream_bounded")
      val done = new java.io.File(dir, "_done")
      if (!done.exists()) {
        (0 until 6).foreach { i =>
          val w = new java.io.BufferedWriter(
            new java.io.FileWriter(new java.io.File(dir, s"b$i.fasta")), 1 << 16)
          (0 until 100).foreach { j =>
            w.write(s">b${i}_$j\n${"ACGT" * (j % 4 + 1)}\n")
          }
          w.close()
        }
        done.createNewFile()
      }
      val name = memName("s07m")
      val q = s.readStream.format("fasta")
        .option("maxFilesPerTrigger", "2")
        .load(dir.getAbsolutePath)
        .groupBy(substring(col("id"), 1, 2).as("shard"))
        .agg(count(lit(1)).as("n_records"),
          sum(length(col("sequence"))).as("sum_len"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 3,
        "s07: admission control did not bound the drain - expected >=3 " +
          s"data micro-batches (6 files at maxFilesPerTrigger=2), saw $dataBatches")
      s.table(name).orderBy(col("shard"))
      }
    }),

    // Streaming WRITE through a graft sink: a text VCF streams in through
    // the micro-batch source and lands through writeStream.format("vcf")
    // with compression=bgzf — the indexed-sink family under streaming
    // commits (deterministic epoch part names, sibling .tbi per part).
    // The gate then batch-reads the sink's own output REGION-PRUNED
    // through its own .tbi (refusing to grade if the sibling index is
    // absent) and grades the pruned aggregate against a closed-form
    // oracle: readStream -> writeStream -> indexed re-read, end to end.
    "s08_stream_sink_transcode" -> ((s, _) => {
      val dir = gateDir("stream_sink_in")
      val done = new java.io.File(dir, "_done")
      if (!done.exists()) {
        val sb = new StringBuilder("##fileformat=VCFv4.2\n")
        sb.append("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
        Seq("chr1", "chr2").foreach { c =>
          (1 to 500).foreach { i =>
            sb.append(s"$c\t${i * 100}\t.\tA\tT\t30\tPASS\tDP=$i\n")
          }
        }
        java.nio.file.Files.writeString(
          new java.io.File(dir, "calls.vcf").toPath, sb.toString)
        done.createNewFile()
      }
      val run = java.nio.file.Files.createTempDirectory("graft_s08_")
      QueryTmp.deleteRecursivelyOnExit(run)
      val out = new java.io.File(run.toFile, "out").getAbsolutePath
      val ckpt = new java.io.File(run.toFile, "ckpt").getAbsolutePath
      val q = s.readStream.format("vcf").load(dir.getAbsolutePath)
        .writeStream.format("vcf")
        .option("path", out).option("compression", "bgzf")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val names = new java.io.File(out).listFiles.map(_.getName)
      require(names.exists(_.endsWith(".vcf.gz.tbi")),
        "s08: streaming bgzf commit produced no sibling .tbi - refusing " +
          s"to grade an unindexed sink output (${names.mkString(",")})")
      s.read.format("vcf").option("region", "chr2:10001-20000").load(out)
        .groupBy(col("chrom"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("sum_pos"))
        .orderBy(col("chrom"))
    }),

    // Streaming decontamination — l76's Bloom prefilter at INGEST time,
    // the shape a crawl pipeline actually runs: the eval-set Bloom and
    // shingle set are built batch-side once and BROADCAST; each arriving
    // document's shingles probe the bitmap through the same three
    // map-side stream-static broadcast joins (bloomPrefilter is pure
    // map-side, so it is streaming-safe unchanged), survivors exact-
    // confirm against the broadcast eval shingles, and a streaming
    // aggregate keeps per-doc overlap counts across batches. Probe docs
    // are the table's own non-eval texts (doc_id < 40) streamed in two
    // micro-batches, so the DuckDB oracle is the same exact join
    // restricted to the probe range.
    "s09_stream_decontamination" -> ((s, d) => {
      withTinyStreamState(s) {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val shingleExpr = "array_distinct(transform(sequence(0, size(w) - 3)," +
        " i -> concat_ws('_', slice(w, i + 1, 3))))"
      val batchPosts = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(shingleExpr)).as("sh"))
      val evalSh = batchPosts.filter(col("doc_id") % 97 === 0)
        .select(col("sh")).distinct().cut()
      val mBits = LlmQueries.bloomBits(evalSh.count())
      // bounded collect: the probe set is <= 40 rows by construction
      val probeDocs = Tables.documents(s, d)
        .filter(col("doc_id") % 97 =!= 0 && col("doc_id") < 40)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val sposts = in.toDF().toDF("doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(shingleExpr)).as("sh"))
      val confirmed = LlmQueries.bloomPrefilter(sposts, evalSh, mBits)
        .join(broadcast(evalSh), Seq("sh"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      val name = memName("s09m")
      val q = confirmed.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      val (firstHalf, secondHalf) = probeDocs.splitAt(probeDocs.length / 2)
      in.addData(firstHalf.toIndexedSeq)
      q.processAllAvailable()
      in.addData(secondHalf.toIndexedSeq)
      q.processAllAvailable()
      q.stop()
      s.table(name).orderBy(col("doc_id"))
      }
    })
  )

  val oracles: Map[String, String] = Map(
    // 4 shards x 250 records; sum_len per shard = sum_{j=0..249} 4*(j%5+1)
    // = 50 * 4 * (1+2+3+4+5) = 3000
    "s01_stream_fasta_scan" ->
      """SELECT 'p' || CAST(i AS VARCHAR) AS shard,
        |  CAST(250 AS BIGINT) AS n_records, CAST(3000 AS BIGINT) AS sum_len
        |FROM generate_series(0, 3) t(i) ORDER BY shard""".stripMargin,

    // only the finalized first 10-min window (start floor(1700000000000 /
    // 600000) * 600000 = 1699999800000) emits: click 2, view 1; the
    // watermark-dropped ts(-10) event's window is absent
    "s02_stream_window_counts" ->
      """SELECT * FROM (VALUES
        |  (CAST(1699999800000 AS BIGINT), 'click', CAST(2 AS BIGINT)),
        |  (CAST(1699999800000 AS BIGINT), 'view',  CAST(1 AS BIGINT)))
        |t(w_ms, kind, n) ORDER BY w_ms, kind""".stripMargin,

    "s03_stream_dedup" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'h1'), (CAST(3 AS BIGINT), 'h2'),
        |  (CAST(5 AS BIGINT), 'h3'))
        |t(doc_id, hash) ORDER BY doc_id""".stripMargin,

    // user 1: events at min 0,1,2 then min 50 — the 48-min gap closes
    // session [0,2] (3 events) in-batch; the trailing [50,50] session (1
    // event) closes by event-time timeout
    "s04_stream_sessionize" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT),
        |   CAST(3 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(50 AS BIGINT), CAST(50 AS BIGINT),
        |   CAST(1 AS BIGINT)))
        |t(user_id, start_min, end_min, n_events) ORDER BY start_min""".stripMargin,

    // ad 1: click at min 10 inside the 30-min horizon (impression min 0);
    // ad 2: click min 20 attributes to impression min 5 even though the
    // click arrived in an earlier batch than processed order; the min-45
    // click (beyond horizon) and ad-3 click (no impression) are absent
    "s05_stream_interval_join" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(10 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(5 AS BIGINT), CAST(20 AS BIGINT)))
        |t(ad_id, imp_min, click_min) ORDER BY ad_id""".stripMargin,

    "s06_stream_events_hourly" ->
      """SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS w_ms,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY w_ms, event_type""".stripMargin,

    // 6 shards x 100 records; sum_len per shard = sum_{j=0..99} 4*(j%4+1)
    // = 25 * 4 * (1+2+3+4) = 1000
    "s07_stream_bounded_batches" ->
      """SELECT 'b' || CAST(i AS VARCHAR) AS shard,
        |  CAST(100 AS BIGINT) AS n_records, CAST(1000 AS BIGINT) AS sum_len
        |FROM generate_series(0, 5) t(i) ORDER BY shard""".stripMargin,

    // region chr2:10001-20000 over pos = 100,200,...,50000 keeps
    // 10100..20000 step 100: 100 rows, sum = (10100+20000)*100/2
    "s08_stream_sink_transcode" ->
      """SELECT * FROM (VALUES
        |  ('chr2', CAST(100 AS BIGINT), CAST(1505000 AS BIGINT)))
        |t(chrom, n, sum_pos) ORDER BY chrom""".stripMargin,

    // The Bloom prefilter is a superset + exact confirm (see l76), so the
    // streamed result equals the plain exact join over the probe range.
    "s09_stream_decontamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    [w[i] || '_' || w[i+1] || '_' || w[i+2]
        |     for i in generate_series(1, len(w) - 2)]) s FROM toks),
        |p AS (SELECT doc_id, unnest(s) sh FROM sh),
        |e AS (SELECT DISTINCT sh FROM p WHERE doc_id % 97 = 0),
        |c AS (SELECT doc_id, sh FROM p
        |      WHERE doc_id % 97 <> 0 AND doc_id < 40)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM c JOIN e USING (sh)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
  )
}
