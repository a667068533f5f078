package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventsStreaming

/** Structured Streaming operators under the DuckDB differential gate: each
  * streaming query runs to completion against the finite events source
  * (readStream -> transform -> memory sink) and its materialized output must
  * hash-match the equivalent batch SQL.
  *
  * Mode discipline: tumbling counts re-emit full results per trigger
  * (Complete — watermarked aggregation state is still bounded); session
  * windows and mapGroupsWithState emit per-key updates (Update), which for
  * the finite source equal the final state of every touched key.
  */
object StreamingQueries {

  val st_tumbling: Query = Query(
    "st_tumbling",
    (s, dir) => {
      val out = EventsStreaming.runToBatch(s,
        EventsStreaming.tumblingCounts(EventsStreaming.readStream(s, dir)),
        OutputMode.Complete, "q_st_tumbling")
      out.orderBy("h", "event_type")
    },
    // 1-hour tumbling windows == date_trunc('hour') buckets
    Some("""SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS h,
           |       event_type, COUNT(*) AS cnt,
           |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sv
           |FROM events GROUP BY h, event_type ORDER BY h, event_type""".stripMargin),
    headline = false)

  /** Session windows stream in Append mode only: a session is emitted once
    * the event-time watermark (max ts - 2h) passes its end (last event +
    * 30 min gap). The oracle mirrors exactly that — the gaps-and-islands
    * sessions whose end closed at or below the final watermark. Sessions
    * still open when a finite source drains are (correctly) never emitted.
    */
  val st_session: Query = Query(
    "st_session",
    (s, dir) => {
      val out = EventsStreaming.runToBatch(s,
        EventsStreaming.sessionCounts(EventsStreaming.readStream(s, dir)),
        OutputMode.Append, "q_st_session")
      out.orderBy("user_id", "session_start")
    },
    Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
           |x AS (
           |  SELECT *, CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |                   OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
           |                      >= INTERVAL 30 MINUTE
           |            THEN 1 ELSE 0 END AS brk FROM e),
           |y AS (
           |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
           |            ROWS UNBOUNDED PRECEDING) AS sess FROM x),
           |sess AS (
           |  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_last,
           |         COUNT(*) AS n_events
           |  FROM y GROUP BY user_id, sess)
           |SELECT user_id, strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           |       n_events
           |FROM sess
           |WHERE session_last + INTERVAL 30 MINUTE
           |      <= (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 2 HOUR
           |ORDER BY user_id, session_start""".stripMargin))

  val st_user_totals: Query = Query(
    "st_user_totals",
    (s, dir) => {
      val out = EventsStreaming.runToBatch(s,
        EventsStreaming.userRunningTotals(s,
          EventsStreaming.readStream(s, dir)).toDF(),
        OutputMode.Update, "q_st_user_totals")
      out.select(col("user_id"), col("n_events"),
        round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, COUNT(*) AS n_events,
           |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Stream-static enrichment join (events x customer segment dim) with a
    * downstream aggregation; batch-parity oracle joins the same tables.
    */
  val st_enriched: Query = Query(
    "st_enriched",
    (s, dir) => {
      val dim = graft.tables.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val out = EventsStreaming.runToBatch(s,
        EventsStreaming.enrichedSegmentTotals(EventsStreaming.readStream(s, dir), dim),
        OutputMode.Complete, "q_st_enriched")
      out.orderBy("c_mktsegment")
    },
    Some("""SELECT c.c_mktsegment, COUNT(*) AS cnt,
           |       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sv
           |FROM events e JOIN customer c ON c.c_custkey = e.user_id
           |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin))

  /** Streaming exactly-once dedup: the event stream delivered TWICE (union
    * of two readers of the same source — a synthetic at-least-once source)
    * must collapse back to exactly one copy of every event. The oracle is
    * the single-delivery batch scan, so any missed or double-emitted row
    * breaks the hash.
    */
  val st_dedup: Query = Query(
    "st_dedup",
    (s, dir) => {
      val twice = EventsStreaming.readStream(s, dir)
        .unionByName(EventsStreaming.readStream(s, dir))
      val out = EventsStreaming.runToBatch(s,
        EventsStreaming.dedupWithinWatermark(twice)
          .select(col("event_id"), col("user_id"), col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
            round(col("value"), 2).as("value")),
        OutputMode.Append, "q_st_dedup")
      out.orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type,
           |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts,
           |       ROUND(value, 2) AS value
           |FROM events ORDER BY event_id""".stripMargin))

  /** Stream-stream interval join (clicks x purchases within 30 min), Append
    * mode; the oracle is the equivalent batch self-join. Every joined pair
    * must be emitted exactly once.
    */
  val st_stream_join: Query = Query(
    "st_stream_join",
    (s, dir) => {
      val out = EventsStreaming.runToBatch(s,
        EventsStreaming.clickPurchaseJoin(
          EventsStreaming.readStream(s, dir), EventsStreaming.readStream(s, dir))
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("c_ts"),
            date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts"),
            round(col("value"), 2).as("value")),
        OutputMode.Append, "q_st_stream_join")
      out.orderBy("click_id", "purchase_id")
    },
    Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           |       strftime(CAST(c.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS c_ts,
           |       strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS p_ts,
           |       ROUND(p.value, 2) AS value
           |FROM events c JOIN events p
           |  ON p.user_id = c.user_id
           | AND c.event_type = 'click' AND p.event_type = 'purchase'
           | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
           | AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
           |ORDER BY click_id, purchase_id""".stripMargin))

  /** foreachBatch incremental ETL: the stream lands in date-partitioned
    * parquet (dynamic partition overwrite — idempotent under batch replay),
    * then the landed table is read back and aggregated per day; the oracle
    * is the same daily rollup over the original events.
    */
  val st_foreachbatch: Query = Query(
    "st_foreachbatch",
    (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_fb_").toString + "/events_daily"
      EventsStreaming.incrementalPartitionedSink(s, EventsStreaming.readStream(s, dir), out)
      s.read.parquet(out)
        .groupBy(col("d"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sv"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("cnt"), col("sv"))
        .orderBy("d")
    },
    Some("""SELECT strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS d,
           |       COUNT(*) AS cnt,
           |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sv
           |FROM events GROUP BY d ORDER BY d""".stripMargin))

  /** LEFT OUTER stream-stream join: matched pairs emit immediately; an
    * unmatched click emits its null row only once the watermark proves no
    * purchase can still arrive in its 30-min window. The oracle encodes
    * exactly that: matched pairs UNION unmatched clicks whose window
    * closed at or below the final GLOBAL watermark — which is the MIN of
    * the two input watermarks (max click ts, max purchase ts, each -2h),
    * not the max over all events; clicks still inside that horizon when
    * the finite source drains are correctly NEVER emitted (st_session's
    * discipline, applied to joins).
    */
  val st_stream_join_left: Query = Query(
    "st_stream_join_left",
    (s, dir) => {
      val out = EventsStreaming.runToBatch(s,
        EventsStreaming.clickPurchaseJoin(
          EventsStreaming.readStream(s, dir), EventsStreaming.readStream(s, dir),
          joinType = "left_outer")
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("c_ts"),
            date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts")),
        OutputMode.Append, "q_st_stream_join_left")
      out.orderBy(col("click_id"), col("purchase_id").asc_nulls_first)
    },
    Some("""WITH c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS c_ts
           |           FROM events WHERE event_type = 'click'),
           |p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS p_ts
           |      FROM events WHERE event_type = 'purchase'),
           |m AS (SELECT c.user_id, c.click_id, p.purchase_id, c.c_ts, p.p_ts
           |      FROM c JOIN p ON p.user_id = c.user_id
           |       AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE),
           |wm AS (SELECT LEAST(
           |         (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'click'),
           |         (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'purchase'))
           |       - INTERVAL 2 HOUR AS w),
           |um AS (SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
           |              c.c_ts, CAST(NULL AS TIMESTAMP) AS p_ts
           |       FROM c
           |       WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
           |         AND c.c_ts + INTERVAL 30 MINUTE <= (SELECT w FROM wm))
           |SELECT user_id, click_id, purchase_id,
           |       strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS c_ts,
           |       strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS p_ts
           |FROM (SELECT * FROM m UNION ALL SELECT * FROM um) u
           |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin))

  /** Streaming signature-index ingest — the production crawl path feeding
    * [[graft.operators.SignatureIndex]]: documents stream in and
    * [[graft.operators.SignatureIndex.ingestStream]] appends
    * `(doc_id, simhash, batch)` per micro-batch under REAL batch ids
    * (base-offset + foreachBatch batchId — see its scaladoc for the
    * manifest-trap and replay-id rationale), so a streamed index supports
    * `probe(n)` with earlier micro-batches as index side exactly like the
    * batch-API lifecycle. The ingest is at-least-once under micro-batch
    * replay, which is safe by construction: `probe` is duplicate-
    * insensitive (min-witness over however many copies of a signature
    * row), and SignatureIndexSpec's interop tests pin the streamed+batch
    * handoff and the two-micro-batch probe equivalence.
    * Oracle: the same simhash CTE the incremental-dedup oracles recompute.
    */
  val st_sig_ingest: Query = Query(
    "st_sig_ingest",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_sigidx_")
      val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      val docs = s.readStream
        .schema(docSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val q = graft.operators.SignatureIndex.ingestStream(
        docs, s"$base/idx", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      // dropDuplicates: the at-least-once contract means a replayed
      // micro-batch may have appended a signature twice; probe tolerates
      // that (min witness), but THIS query's contract is one row per doc
      s.read.parquet(s"$base/idx")
        .select(col("doc_id"), col("simhash"))
        .dropDuplicates("doc_id", "simhash")
        .orderBy("doc_id")
    },
    Some(s"""WITH ${NorthStar.simhashShCte}
            |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin))

  /** Streaming PQ-code ingest — the vector twin of [[st_sig_ingest]]:
    * embeddings stream in (the output of an upstream featurizer), each
    * micro-batch is encoded against the FROZEN codebook
    * ([[graft.operators.PqIndex.ingestStream]]), and the M-codes-a-row
    * table grows by append — the ANN index keeps up with a continuously
    * embedded corpus without ever re-encoding history. The codebook is a
    * bounded batch-side collect (KC rows) taken before the stream starts,
    * which is exactly the frozen-quantizer contract: stream-time rows mean
    * the same thing build-time rows meant. Oracle: the code CTE of the PQ
    * oracles widened to every vector (one row per vec_id, code0..3).
    */
  val st_pq_ingest: Query = Query(
    "st_pq_ingest",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_pqidx_")
      val cb = graft.operators.PqIndex.codebookOf(
        graft.tables.Tables.load(s, dir, "embeddings"))
      val embSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
      val emb = s.readStream
        .schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
      val q = graft.operators.PqIndex.ingestStream(emb, cb, s"$base/idx", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      // dropDuplicates: the at-least-once contract (codes are deterministic,
      // so replayed rows are byte-identical; set semantics restored here)
      s.read.parquet(s"$base/idx")
        .dropDuplicates("vec_id")
        .orderBy("vec_id")
    },
    Some {
      val M = graft.operators.PqIndex.M
      val SubDim = graft.operators.PqIndex.SubDim
      val KC = graft.operators.PqIndex.KC
      val codeCols = (0 until M).map(m =>
        s"CAST(MAX(CASE WHEN m = $m THEN cid END) AS INTEGER) AS code$m").mkString(",\n|       ")
      s"""WITH cb AS (SELECT vec_id AS cid, embedding FROM embeddings
         |            WHERE vec_id BETWEEN 1 AND $KC),
         |u AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
         |             generate_subscripts(embedding, 1) AS i FROM embeddings),
         |cu AS (SELECT cid, CAST(UNNEST(embedding) AS DOUBLE) AS cv,
         |              generate_subscripts(embedding, 1) AS i FROM cb),
         |dist AS (
         |  SELECT u.vec_id, cu.cid, (cu.i - 1) // $SubDim AS m,
         |         ROUND(SUM((u.v - cu.cv) * (u.v - cu.cv)), 9) AS d
         |  FROM u JOIN cu ON u.i = cu.i
         |  GROUP BY u.vec_id, cu.cid, (cu.i - 1) // $SubDim),
         |code AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
         |    FROM dist) r WHERE rn = 1)
         |SELECT vec_id,
         |       $codeCols
         |FROM code GROUP BY vec_id ORDER BY vec_id""".stripMargin
    })

  /** Streaming substring-index ingest — the third persisted index gains
    * the streamed path: documents stream in, the rolling-hash kernel runs
    * per micro-batch, and (doc_id, off, h61, batch) triples append under
    * real batch ids ([[graft.operators.SubstringIndex.ingestStream]] via
    * the shared IndexStream discipline), so incremental EXACTSUBSTR
    * probes work against a stream-fed index exactly as batch-fed. Oracle:
    * the win CTE the substring oracles share, one row per (doc_id, off).
    */
  val st_substring_ingest: Query = Query(
    "st_substring_ingest",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_subidx_")
      val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      val docs = s.readStream
        .schema(docSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val q = graft.operators.SubstringIndex.ingestStream(
        docs, s"$base/idx", s"$base/cp", w = 20)
      try q.processAllAvailable() finally q.stop()
      // dropDuplicates: at-least-once replays repeat (doc_id, off, h) rows
      s.read.parquet(s"$base/idx")
        .select(col("doc_id"), col("off"), col("h"))
        .dropDuplicates("doc_id", "off")
        .orderBy("doc_id", "off")
    },
    Some(s"""${NorthStar.substringWinCte}
            |SELECT doc_id, CAST(off AS INTEGER) AS off, h FROM win
            |ORDER BY doc_id, off""".stripMargin))

  /** Streaming residual-IVF-PQ ingest — the LAST cell of the streamed-
    * ingest matrix (signature, substring, PQ, IVF-PQ all grow from both
    * the batch and the streamed path): embeddings stream in, each
    * micro-batch is coarse-assigned against the TRAINED k-means centroids
    * and residual-encoded against the frozen residual sub-codebook
    * ([[graft.operators.IvfPqIndex.ingestStreamResidual]]), and the codes
    * land inside their `list=` partition directories — so the streamed
    * index keeps the partition pruning s_ann_ivfpq_trained queries
    * through. Both quantizers are bounded batch-side collects taken before
    * the stream starts (the frozen-quantizer contract). Oracle: the
    * trained-assignment CTE + the residual code lattice, one row per
    * vec_id with its coarse list and M codes.
    */
  val st_ivfpq_ingest: Query = Query(
    "st_ivfpq_ingest",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_ivfpqidx_")
      val cents: Array[(Long, Seq[Float])] = TrainedIvfCodebook.centroids
        .zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }.toArray
      val cb = graft.operators.IvfPqIndex.residualCodebookOf(
        graft.tables.Tables.load(s, dir, "embeddings"), cents)
      val embSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
      val emb = s.readStream
        .schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
      val q = graft.operators.IvfPqIndex.ingestStreamResidual(
        emb, cents, cb, s"$base/idx", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      // dropDuplicates: at-least-once replays append byte-identical rows
      // (frozen quantizers); set semantics restored as in CodeTable.read
      s.read.parquet(s"$base/idx")
        .dropDuplicates("vec_id")
        .select(col("vec_id") +: col("list").cast("int").as("list") +:
          (0 until graft.operators.PqIndex.M).map(m => col(s"code$m")): _*)
        .orderBy("vec_id")
    },
    Some {
      val M = graft.operators.PqIndex.M
      val SubDim = graft.operators.PqIndex.SubDim
      val KC = graft.operators.PqIndex.KC
      val codeCols = (0 until M).map(m =>
        s"CAST(MAX(CASE WHEN c.m = $m THEN c.ccid END) AS INTEGER) AS code$m").mkString(",\n|       ")
      s"""WITH ${NorthStar.trainedAssignCte},
         |ru AS (
         |  SELECT u.vec_id, u.i, CAST(CAST(u.v - cu.v AS FLOAT) AS DOUBLE) AS rv
         |  FROM u JOIN assign a ON u.vec_id = a.vec_id
         |         JOIN cu ON cu.cid = a.cid AND cu.i = u.i),
         |rcb AS (SELECT vec_id AS ccid, i, rv FROM ru WHERE vec_id BETWEEN 1 AND $KC),
         |dist AS (
         |  SELECT r.vec_id, c.ccid, (r.i - 1) // $SubDim AS m,
         |         ROUND(SUM((r.rv - c.rv) * (r.rv - c.rv)), 9) AS d
         |  FROM ru r JOIN rcb c ON r.i = c.i
         |  GROUP BY r.vec_id, c.ccid, (r.i - 1) // $SubDim),
         |code AS (
         |  SELECT vec_id, m, ccid FROM (
         |    SELECT vec_id, m, ccid,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, ccid) AS rn
         |    FROM dist) x WHERE rn = 1)
         |SELECT c.vec_id, CAST(a.cid AS INTEGER) AS list,
         |       $codeCols
         |FROM code c JOIN assign a ON a.vec_id = c.vec_id
         |GROUP BY c.vec_id, a.cid ORDER BY c.vec_id""".stripMargin
    })

  /** Shared 3-slice crawl-probe driver: md5-slice the documents table into
    * three increments, stream each as its own micro-batch (mtime-ordered
    * single files, drained between drops), let `start` stand up the
    * operator's probeStream against `base`, and hand `base` back to the
    * caller's output reader. THE single copy of the slice scheme and the
    * stream-drive discipline for every st_*_probe query.
    */
  private def crawlProbe(s: org.apache.spark.sql.SparkSession, dir: String,
      prefix: String)(
      start: (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery)(
      out: String => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toString
    val docs = graft.tables.Tables.load(s, dir, "documents").select("doc_id", "text")
    val sliceCol = {
      val h = substring(md5(concat(col("doc_id").cast("string"), lit(":crawl"))), 1, 1)
      when(h <= "4", 0).when(h <= "9", 1).otherwise(2)
    }
    val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    // the source dir must exist before the stream starts — the first
    // increment is dropped only after the probe stream is live
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
    val streamed = s.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val q = start(streamed, base)
    try {
      for (sl <- 0 to 2) {
        oneFile(docs.filter(sliceCol === sl), s"$base/src/s$sl.parquet",
          1000000000000L + sl * 60000L)
        q.processAllAvailable()
      }
    } finally q.stop()
    out(base)
  }

  /** Write `df` as ONE plain parquet file at `dest` with a chosen mtime —
    * the file-stream source picks new files up in mtime order, which (with
    * a `processAllAvailable` drain between drops) pins each file to its own
    * micro-batch deterministically.
    */
  private def oneFile(df: org.apache.spark.sql.DataFrame, dest: String,
                      mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_onefile_").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dest).getParent)
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dest))
    require(new java.io.File(dest).setLastModified(mtime), s"mtime set failed: $dest")
  }

  /** Streamed ingest AND probe — the CONSUMER side of the streamed-index
    * matrix, and the production crawl shape: three deterministic crawl
    * increments (md5 slices of the corpus) arrive as separate micro-batches,
    * each is appended to the persisted signature index under its real batch
    * id and immediately probed against everything ingested before it
    * ([[graft.operators.SignatureIndex.probeStream]]) — so every document's
    * dedup verdict (min earlier witness, or NULL = novel) is landed the
    * moment its increment commits, with zero re-kerneling of history.
    * Output: one row per corpus doc across all increments. The oracle is
    * the 3-slice generalization of d_dedup_incremental's witness relation:
    * a match counts if it sits in an earlier slice (any id) or the same
    * slice with a lower id. Replay tolerance: verdicts are deterministic
    * (probe filters batch <= b and min-witness ignores row multiplicity),
    * so at-least-once re-appends are value-identical rows removed by the
    * contract dropDuplicates.
    */
  val st_sig_probe: Query = Query(
    "st_sig_probe",
    (s, dir) => crawlProbe(s, dir, "graft_stream_sigprobe_") { (streamed, base) =>
      graft.operators.SignatureIndex.probeStream(
        streamed, s"$base/idx", s"$base/out", s"$base/cp")
    } { base =>
      s.read.parquet(s"$base/out")
        .select(col("doc_id"), col("dup_of"))
        .dropDuplicates("doc_id")
        .orderBy("doc_id")
    },
    Some(s"""WITH ${NorthStar.simhashShCte},
            |m AS (
            |  SELECT doc_id, simhash,
            |         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':crawl'), 1, 1) <= '4' THEN 0
            |              WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':crawl'), 1, 1) <= '9' THEN 1
            |              ELSE 2 END AS sl
            |  FROM sh),
            |mm AS (
            |  SELECT a.doc_id, MIN(b.doc_id) AS dup_of
            |  FROM m a JOIN m b
            |    ON a.doc_id != b.doc_id
            |   AND (b.sl < a.sl OR (b.sl = a.sl AND b.doc_id < a.doc_id))
            |   AND bit_count(xor(a.simhash, b.simhash)) <= 6
            |  GROUP BY a.doc_id)
            |SELECT m.doc_id, mm.dup_of
            |FROM m LEFT JOIN mm ON m.doc_id = mm.doc_id
            |ORDER BY m.doc_id""".stripMargin))

  /** Streamed substring probe — [[st_sig_probe]]'s twin over the
    * window-triple index: three md5-slice crawl increments arrive as
    * micro-batches, each appends its rolling-hash triples under a real
    * batch id and is immediately answered "which of YOUR spans are
    * duplicated against anything ingested so far"
    * ([[graft.operators.SubstringIndex.probeStream]]) — in-flight
    * boilerplate/contamination-span detection. A span counts when its
    * window hash is shared with ANOTHER doc in the same or an earlier
    * slice (probe's COUNT(DISTINCT doc_id) > 1 over batch <= b), which is
    * exactly the EXISTS the oracle writes. Output: maximal spans per doc,
    * all increments.
    */
  val st_substring_probe: Query = Query(
    "st_substring_probe",
    (s, dir) => crawlProbe(s, dir, "graft_stream_subprobe_") { (streamed, base) =>
      graft.operators.SubstringIndex.probeStream(
        streamed, s"$base/idx", s"$base/out", s"$base/cp", w = NorthStar.SubW)
    } { base =>
      s.read.parquet(s"$base/out")
        .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
        .dropDuplicates("doc_id", "span_start")
        .orderBy("doc_id", "span_start")
    },
    Some(s"""${NorthStar.substringWinCte},
            |m AS (
            |  SELECT doc_id, off, h,
            |         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':crawl'), 1, 1) <= '4' THEN 0
            |              WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':crawl'), 1, 1) <= '9' THEN 1
            |              ELSE 2 END AS sl
            |  FROM win),
            |mk AS (
            |  SELECT a.doc_id, a.off,
            |         row_number() OVER (PARTITION BY a.doc_id ORDER BY a.off) AS rn
            |  FROM m a
            |  WHERE EXISTS (SELECT 1 FROM m b
            |                WHERE b.h = a.h AND b.doc_id != a.doc_id AND b.sl <= a.sl)),
            |sp AS (
            |  SELECT doc_id, MIN(off) AS span_start,
            |         MAX(off) + ${NorthStar.SubW - 1} AS span_end,
            |         COUNT(*) AS n_windows
            |  FROM mk GROUP BY doc_id, off - rn)
            |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
            |       CAST(span_end AS BIGINT) AS span_end,
            |       CAST(n_windows AS BIGINT) AS n_windows
            |FROM sp ORDER BY doc_id, span_start""".stripMargin))

  /** Streamed MinHash probe — [[st_sig_probe]]'s twin in the Jaccard
    * regime ([[graft.operators.MinHashIndex.probeStream]]): three
    * md5-slice crawl increments arrive as micro-batches; each appends its
    * raw docs to the doc store and its band signatures to the index under
    * a real batch id, then its VERIFIED near-dup pairs (candidates from
    * the stored bands, exact 5-gram Jaccard >= 0.7 over the doc store)
    * land the moment the increment commits. A qualifying pair is reported
    * exactly once — when its LATER member's slice arrives and probes
    * earlier-or-same-batch-lower-id signatures — so the union over
    * batches is the full exact pair set, which is precisely the oracle
    * d_minhash_lsh proves.
    */
  val st_minhash_probe: Query = Query(
    "st_minhash_probe",
    (s, dir) => crawlProbe(s, dir, "graft_stream_mhprobe_") { (streamed, base) =>
      graft.operators.MinHashIndex.probeStream(
        streamed, s"$base/idx", s"$base/docs", s"$base/out", s"$base/cp")
    } { base =>
      s.read.parquet(s"$base/out")
        .select(col("id_a"), col("id_b"), col("jac"))
        .dropDuplicates("id_a", "id_b")
        .orderBy("id_a", "id_b")
    },
    Some(NorthStar.exactJaccard07Sql))

  /** Shared streamed-VECTOR-probe driver — the query-side twin of
    * [[crawlProbe]] for the stored vector indexes: three query embeddings
    * (vec_id 1..3) arrive as mtime-ordered single-row micro-batches, and
    * each is answered top-5 from the PERSISTED code table the moment its
    * batch fires — ANN queries served in-flight, mirroring how the text
    * probes answer per micro-batch.
    *
    * ALL of a trigger's probes are scored in ONE plan (the r10 weak item:
    * the old per-probe driver loop ran k sequential Spark jobs and k
    * parquet appends for k probes/trigger): the per-batch collect drains
    * the micro-batch's probe rows — bounded: a query stream's triggers
    * are probe-sized by contract, and the collected payload is the
    * probe vectors, not corpus data — and `answerBatch` (PqIndex /
    * IvfPqIndex.queryBatch) scans the code table ONCE for the whole set,
    * per-qid LUTs broadcast, per-qid top-5 via the mergeable bounded TopK
    * aggregator, one append per trigger. Verdicts land under the
    * foreachBatch exactly-once-per-value contract: results are
    * DETERMINISTIC (frozen codebooks, 9-dp lattice), so at-least-once
    * replays are byte-identical rows removed by the contract
    * dropDuplicates. Multi-probe triggers are spec-pinned byte-identical
    * to the per-probe answers (VecProbeBatchSpec).
    */
  private def vecProbe(s: org.apache.spark.sql.SparkSession, dir: String,
      prefix: String)(
      answerBatch: (org.apache.spark.sql.SparkSession, Seq[(Long, Seq[Float], Int)]) => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toString
    val emb = graft.tables.Tables.load(s, dir, "embeddings")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
    val embSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    val probes = s.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val q = probes.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val batch = df.select("vec_id", "embedding", "label").collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq
        if (batch.nonEmpty) {
          answerBatch(df.sparkSession, batch)
            .write.mode("append").parquet(s"$base/out")
        }
      }
      .option("checkpointLocation", s"$base/cp")
      .start()
    try {
      for (i <- 1 to 3) {
        oneFile(emb.filter(col("vec_id") === i), s"$base/src/p$i.parquet",
          1000000000000L + i * 60000L)
        q.processAllAvailable()
      }
    } finally q.stop()
    s.read.parquet(s"$base/out")
      .dropDuplicates("qid", "vec_id")
      .select(col("qid"), col("vec_id"), col("asim"))
      .orderBy(col("qid"), col("asim").desc, col("vec_id"))
  }

  /** Streamed PQ probe — the QUERY side of the stored vector index as a
    * stream ([[st_sig_probe]]'s vector twin, closing the in-flight matrix
    * asymmetry): the code table is built once batch-side, then each
    * arriving query vector is ADC-ranked against it per micro-batch
    * ([[graft.operators.PqIndex.query]] — LUT on the driver, M
    * lookup-table reads a row, no embedding column in the scan). Oracle:
    * the PQ ADC SQL generalized to all three probes, per-qid top-5.
    */
  val st_pq_probe: Query = Query(
    "st_pq_probe",
    (s, dir) => {
      val emb = graft.tables.Tables.load(s, dir, "embeddings")
      val cb = graft.operators.PqIndex.codebookOf(emb)
      val idx = java.nio.file.Files.createTempDirectory("graft_stream_pqpr_idx_").toString
      graft.operators.PqIndex.build(emb, cb, idx)
      vecProbe(s, dir, "graft_stream_pqprobe_") { (sp, batch) =>
        graft.operators.PqIndex.queryBatch(sp, idx, batch.map(t => (t._1, t._2)), cb, topN = 5)
      }
    },
    Some {
      val M = graft.operators.PqIndex.M
      val SubDim = graft.operators.PqIndex.SubDim
      val KC = graft.operators.PqIndex.KC
      s"""WITH cb AS (SELECT vec_id AS cid, embedding FROM embeddings
         |            WHERE vec_id BETWEEN 1 AND $KC),
         |u AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
         |             generate_subscripts(embedding, 1) AS i FROM embeddings),
         |cu AS (SELECT cid, CAST(UNNEST(embedding) AS DOUBLE) AS cv,
         |              generate_subscripts(embedding, 1) AS i FROM cb),
         |dist AS (
         |  SELECT u.vec_id, cu.cid, (cu.i - 1) // $SubDim AS m,
         |         ROUND(SUM((u.v - cu.cv) * (u.v - cu.cv)), 9) AS d
         |  FROM u JOIN cu ON u.i = cu.i
         |  GROUP BY u.vec_id, cu.cid, (cu.i - 1) // $SubDim),
         |code AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
         |    FROM dist) r WHERE rn = 1),
         |p AS (SELECT vec_id AS qid, CAST(UNNEST(embedding) AS DOUBLE) AS pv,
         |             generate_subscripts(embedding, 1) AS i
         |      FROM embeddings WHERE vec_id IN (1, 2, 3)),
         |lut AS (
         |  SELECT p.qid, cu.cid, (cu.i - 1) // $SubDim AS m,
         |         ROUND(SUM(cu.cv * p.pv), 9) AS pd
         |  FROM cu JOIN p ON cu.i = p.i GROUP BY p.qid, cu.cid, (cu.i - 1) // $SubDim),
         |asim AS (
         |  SELECT l.qid, c.vec_id, ROUND(SUM(l.pd), 9) AS a9
         |  FROM code c JOIN lut l ON l.m = c.m AND l.cid = c.cid
         |  GROUP BY l.qid, c.vec_id),
         |top AS (
         |  SELECT qid, vec_id, a9,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY a9 DESC, vec_id) AS rn
         |  FROM asim)
         |SELECT qid, vec_id, ROUND(a9, 4) AS asim FROM top WHERE rn <= 5
         |ORDER BY qid, ROUND(a9, 4) DESC, vec_id""".stripMargin
    })

  /** Streamed IVF-PQ probe — [[st_pq_probe]] against the list-PARTITIONED
    * stored table ([[graft.operators.IvfPqIndex]]): each arriving query
    * vector picks its nProbe coarse lists (K driver cosines on the build's
    * 9-dp lattice) and its per-batch answer scans ONLY those list
    * directories — partition pruning exercised per micro-batch, which is
    * the 100 TB serving shape: a query stream against a directory-
    * structured inverted file, each answer touching ~nProbe/K of the
    * stored bytes. Oracle: the IVF-PQ ADC SQL generalized to the three
    * probes (per-qid probe lists, per-qid top-5).
    */
  val st_ivfpq_probe: Query = Query(
    "st_ivfpq_probe",
    (s, dir) => {
      val emb = graft.tables.Tables.load(s, dir, "embeddings")
      val cents = graft.operators.IvfPqIndex.centroidsOf(emb)
      val cb = graft.operators.PqIndex.codebookOf(emb)
      val idx = java.nio.file.Files.createTempDirectory("graft_stream_ivfpqpr_idx_").toString
      graft.operators.IvfPqIndex.build(emb, cents, cb, idx)
      vecProbe(s, dir, "graft_stream_ivfpqprobe_") { (sp, batch) =>
        graft.operators.IvfPqIndex.queryBatch(sp, idx, batch.map(t => (t._1, t._2)), cents, cb, topN = 5)
      }
    },
    Some {
      val KCoarse = graft.operators.IvfPqIndex.KCoarse
      val NProbe = graft.operators.IvfPqIndex.NProbe
      val M = graft.operators.PqIndex.M
      val SubDim = graft.operators.PqIndex.SubDim
      val KC = graft.operators.PqIndex.KC
      s"""WITH cent AS (SELECT vec_id AS ccid, embedding FROM embeddings
         |              WHERE vec_id <= $KCoarse),
         |u AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
         |             generate_subscripts(embedding, 1) AS i FROM embeddings),
         |cu AS (SELECT ccid, CAST(UNNEST(embedding) AS DOUBLE) AS v,
         |              generate_subscripts(embedding, 1) AS i FROM cent),
         |sims AS (
         |  SELECT u.vec_id, cu.ccid,
         |         ROUND(SUM(u.v * cu.v) / (SQRT(SUM(u.v * u.v)) * SQRT(SUM(cu.v * cu.v))), 9) AS sim
         |  FROM u JOIN cu ON u.i = cu.i GROUP BY u.vec_id, cu.ccid),
         |assign AS (
         |  SELECT vec_id, ccid FROM (
         |    SELECT vec_id, ccid,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, ccid) AS rn
         |    FROM sims) r WHERE rn = 1),
         |probe_c AS (
         |  SELECT vec_id AS qid, ccid FROM (
         |    SELECT vec_id, ccid,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, ccid) AS rn
         |    FROM sims WHERE vec_id IN (1, 2, 3)) r WHERE rn <= $NProbe),
         |cand AS (SELECT p.qid, a.vec_id FROM assign a JOIN probe_c p ON a.ccid = p.ccid),
         |cb AS (SELECT vec_id AS cid, embedding FROM embeddings
         |       WHERE vec_id BETWEEN 1 AND $KC),
         |cbu AS (SELECT cid, CAST(UNNEST(embedding) AS DOUBLE) AS cv,
         |               generate_subscripts(embedding, 1) AS i FROM cb),
         |dist AS (
         |  SELECT u.vec_id, cbu.cid, (cbu.i - 1) // $SubDim AS m,
         |         ROUND(SUM((u.v - cbu.cv) * (u.v - cbu.cv)), 9) AS d
         |  FROM u JOIN cbu ON u.i = cbu.i
         |  WHERE u.vec_id IN (SELECT vec_id FROM cand)
         |  GROUP BY u.vec_id, cbu.cid, (cbu.i - 1) // $SubDim),
         |code AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
         |    FROM dist) r WHERE rn = 1),
         |p AS (SELECT vec_id AS qid, CAST(UNNEST(embedding) AS DOUBLE) AS pv,
         |             generate_subscripts(embedding, 1) AS i
         |      FROM embeddings WHERE vec_id IN (1, 2, 3)),
         |lut AS (
         |  SELECT p.qid, cbu.cid, (cbu.i - 1) // $SubDim AS m,
         |         ROUND(SUM(cbu.cv * p.pv), 9) AS pd
         |  FROM cbu JOIN p ON cbu.i = p.i GROUP BY p.qid, cbu.cid, (cbu.i - 1) // $SubDim),
         |asim AS (
         |  SELECT ca.qid, c.vec_id, ROUND(SUM(l.pd), 9) AS a9
         |  FROM code c
         |  JOIN cand ca ON ca.vec_id = c.vec_id
         |  JOIN lut l ON l.qid = ca.qid AND l.m = c.m AND l.cid = c.cid
         |  GROUP BY ca.qid, c.vec_id),
         |top AS (
         |  SELECT qid, vec_id, a9,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY a9 DESC, vec_id) AS rn
         |  FROM asim)
         |SELECT qid, vec_id, ROUND(a9, 4) AS asim FROM top WHERE rn <= 5
         |ORDER BY qid, ROUND(a9, 4) DESC, vec_id""".stripMargin
    })

  /** Streamed FILTERED vector probe — [[st_pq_probe]] against the
    * label-PARTITIONED code table ([[graft.operators.PqIndex.buildPartitioned]],
    * `s_ann_filtered_index`'s layout), completing the streamed x filtered
    * matrix cell: each arriving query vector searches ONLY its own label's
    * partition (the multi-tenant serving contract — a tenant's query must
    * never rank another tenant's vectors), and a trigger's whole probe set
    * is answered in ONE plan ([[graft.operators.PqIndex.queryBatchPartitioned]]):
    * the scan is pruned to the UNION of the batch's labels at planning
    * time, each code row ADC-scores only against the qids whose label it
    * carries (LUTs join on the partition column instead of cross-joining),
    * per-qid top-5 via the bounded mergeable TopK. Oracle: the PQ ADC SQL
    * with each qid's candidates restricted to its own label's vectors
    * (per-vector-independent ADC makes prune-then-rank equal
    * rank-then-filter). Batch-vs-sequential byte-equality and the
    * partitions-scanned == batch-labels pin live in StFilteredProbeSpec.
    */
  val st_filtered_probe: Query = Query(
    "st_filtered_probe",
    (s, dir) => {
      val emb = graft.tables.Tables.load(s, dir, "embeddings")
      val cb = graft.operators.PqIndex.codebookOf(emb)
      val idx = java.nio.file.Files.createTempDirectory("graft_stream_fltpr_idx_").toString + "/idx"
      graft.operators.PqIndex.buildPartitioned(emb, cb, idx, partCol = "label")
      vecProbe(s, dir, "graft_stream_fltprobe_") { (sp, batch) =>
        graft.operators.PqIndex.queryBatchPartitioned(sp, idx, batch, cb,
          topN = 5, partCol = "label")
      }
    },
    Some {
      val M = graft.operators.PqIndex.M
      val SubDim = graft.operators.PqIndex.SubDim
      val KC = graft.operators.PqIndex.KC
      s"""WITH cb AS (SELECT vec_id AS cid, embedding FROM embeddings
         |            WHERE vec_id BETWEEN 1 AND $KC),
         |u AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
         |             generate_subscripts(embedding, 1) AS i FROM embeddings),
         |cu AS (SELECT cid, CAST(UNNEST(embedding) AS DOUBLE) AS cv,
         |              generate_subscripts(embedding, 1) AS i FROM cb),
         |dist AS (
         |  SELECT u.vec_id, cu.cid, (cu.i - 1) // $SubDim AS m,
         |         ROUND(SUM((u.v - cu.cv) * (u.v - cu.cv)), 9) AS d
         |  FROM u JOIN cu ON u.i = cu.i
         |  GROUP BY u.vec_id, cu.cid, (cu.i - 1) // $SubDim),
         |code AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
         |    FROM dist) r WHERE rn = 1),
         |p AS (SELECT vec_id AS qid, CAST(UNNEST(embedding) AS DOUBLE) AS pv,
         |             generate_subscripts(embedding, 1) AS i
         |      FROM embeddings WHERE vec_id IN (1, 2, 3)),
         |lbl AS (SELECT vec_id AS qid, label FROM embeddings
         |        WHERE vec_id IN (1, 2, 3)),
         |lut AS (
         |  SELECT p.qid, cu.cid, (cu.i - 1) // $SubDim AS m,
         |         ROUND(SUM(cu.cv * p.pv), 9) AS pd
         |  FROM cu JOIN p ON cu.i = p.i GROUP BY p.qid, cu.cid, (cu.i - 1) // $SubDim),
         |asim AS (
         |  SELECT l.qid, c.vec_id, ROUND(SUM(l.pd), 9) AS a9
         |  FROM code c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN lbl b ON b.label = e.label
         |  JOIN lut l ON l.qid = b.qid AND l.m = c.m AND l.cid = c.cid
         |  GROUP BY l.qid, c.vec_id),
         |top AS (
         |  SELECT qid, vec_id, a9,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY a9 DESC, vec_id) AS rn
         |  FROM asim)
         |SELECT qid, vec_id, ROUND(a9, 4) AS asim FROM top WHERE rn <= 5
         |ORDER BY qid, ROUND(a9, 4) DESC, vec_id""".stripMargin
    })

  /** Streamed fuzzy decontamination — ingest-time contamination screening,
    * the production shape of [[graft.queries.NorthStar]] `t_decontam_fuzzy`
    * (a crawl STREAMS in; each arriving document must be screened against
    * the fixed benchmark suite before it enters the training corpus, not
    * in a nightly batch): the train side arrives as three mtime-ordered
    * micro-batches and each trigger's docs run the shared
    * [[graft.queries.NorthStar.fuzzyContamVerdicts]] core against the
    * STATIC eval side, flagged rows appended the moment the batch fires.
    * Per-doc verdicts depend only on that doc's grams and the eval grams
    * (no train-side cross-doc state), so the union of per-trigger outputs
    * is byte-identical to the one-shot batch row — the oracle is
    * t_decontam_fuzzy's SQL verbatim. At-least-once replays append
    * byte-identical verdict rows (the core is deterministic), removed by
    * the contract dropDuplicates. At 100 TB the eval gram set is a fixed
    * benchmark (MBs): broadcast once — or its bloom bits
    * (t_decontam_bloom's regime) — and each trigger's cost is
    * batch-grams-sized, never corpus-sized.
    */
  val st_decontam_fuzzy: Query = Query(
    "st_decontam_fuzzy",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_fdec_").toString
      val docs = graft.tables.Tables.load(s, dir, "documents")
      val ev = docs.filter(col("doc_id") % 5 === 0)
      for (sl <- 0 to 2)
        oneFile(docs.filter(col("doc_id") % 5 =!= 0 && pmod(col("doc_id"), lit(3)) === sl),
          s"$base/src/d$sl.parquet", 1000000000000L + sl * 60000L)
      val streamed = s.readStream
        .schema(s.read.parquet(s"$base/src").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = streamed.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.queries.NorthStar.fuzzyContamVerdicts(df, ev)
            .write.mode("append").parquet(s"$base/out")
        }
        .option("checkpointLocation", s"$base/cp")
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/out")
        .dropDuplicates("doc_id", "eval_id")
        .orderBy("doc_id")
    },
    Some(graft.queries.NorthStar.fuzzyContamOracleSql))

  /** Streamed ingest into the incremental-rollup partial table — the
    * AggIndex cell of the streamed-ingest matrix as an ORACLED row: the
    * event log arrives as three mtime-ordered micro-batches, each
    * aggregated to per-batch partials INSIDE foreachBatch and appended
    * under a real pinned batch id ([[graft.operators.AggIndex.ingestStream]]);
    * the merge-on-read rollup over the streamed table must then equal the
    * one-shot whole-log aggregate — e_agg_maintain's oracle verbatim,
    * which is the split-invariance claim applied to a stream's batching.
    */
  val st_agg_ingest: Query = Query(
    "st_agg_ingest",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_agg_").toString
      val ev = graft.tables.Tables.load(s, dir, "events")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
      for (sl <- 0 to 2)
        oneFile(ev.filter(pmod(col("event_id"), lit(3)) === sl),
          s"$base/src/e$sl.parquet", 1000000000000L + sl * 60000L)
      val streamed = graft.tables.Tables.normalizeEvents(
        s.readStream.schema(s.read.parquet(s"$base/src").schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/src"))
      val q = graft.operators.AggIndex.ingestStream(streamed, s"$base/idx", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      EventAnalytics.mergedWithGate(s, dir, s"$base/idx")
    },
    Some(EventAnalytics.aggMaintainOracleSql))

  /** Streamed right-to-be-forgotten — the takedown QUEUE as a stream (the
    * GDPR production shape: deletion requests arrive continuously, not in
    * maintenance windows): the crawl-shaped signature index (base + four
    * deltas, the d_forget fixture) consumes forget requests as
    * micro-batches — each trigger appends its doc_ids to the delete-vector
    * table (O(requests) per trigger, [[graft.operators.Tombstones]]) —
    * then the index is compacted (tombstone-aware reclamation) and probed.
    * Oracle: the d_forget witness relation over a corpus that never
    * contained the forgotten docs — the STREAM of forgets must land
    * exactly where the batch forget landed. At-least-once replay is safe:
    * a replayed request re-appends the same ids, and the live view's
    * anti-join (and compact's distinct) are duplicate-insensitive. The
    * request stream is the index's only writer while it runs — the
    * single-writer contract forget already demands.
    */
  val st_forget: Query = Query(
    "st_forget",
    (s, dir) => {
      val docs = graft.tables.Tables.load(s, dir, "documents")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_forget_").toString
      val idx = s"$base/idx"
      val b = pmod(col("doc_id"), lit(5)).cast("int")
      graft.operators.SignatureIndex.build(docs.filter(b === 0), idx)
      (1 to 4).foreach(i =>
        graft.operators.SignatureIndex.ingest(docs.filter(b === i), idx, batch = i))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/req"))
      val reqSchema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT")
      val reqs = s.readStream.schema(reqSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/req")
      val q = reqs.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.SignatureIndex.forget(df.sparkSession, idx, df)
        }
        .option("checkpointLocation", s"$base/cp")
        .start()
      val forgotten = docs.filter(col("doc_id") % 17 === 0).select("doc_id")
      try {
        for (h <- 0 to 1) { // two takedown batches split by doc_id parity
          oneFile(forgotten.filter(pmod(col("doc_id"), lit(2)) === h),
            s"$base/req/r$h.parquet", 1000000000000L + h * 60000L)
          q.processAllAvailable()
        }
      } finally q.stop()
      graft.operators.IndexMaintenance.compact(s, idx)
      graft.operators.SignatureIndex.probe(s, idx, batch = 4).orderBy("doc_id")
    },
    Some(NorthStar.forgetOracleSql))

  /** Streaming SQ8-code ingest — the scalar-quantized member of the
    * streamed-ingest matrix ([[st_pq_ingest]]'s per-dimension twin): the
    * scale is trained batch-side and FROZEN, embeddings stream in, every
    * micro-batch encodes int8 codes against that scale and appends
    * ([[graft.operators.SqIndex.ingestStream]]). Contract: per-vector
    * EXACT integers — the code sum and the BIGINT dot product against the
    * vec-1 probe (the single [[graft.operators.SqIndex.scoreCol]]
    * expression) for EVERY vector, so a single drifted code anywhere in
    * the streamed table fails the hash. Encoding is deterministic, so
    * at-least-once replays are byte-identical (set semantics restored by
    * dropDuplicates, as in every ingest entry).
    */
  val st_sq8_ingest: Query = Query(
    "st_sq8_ingest",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_sqidx_")
      val embBatch = graft.tables.Tables.load(s, dir, "embeddings")
      val scale = graft.operators.SqIndex.train(embBatch)
      val probe: Seq[Float] = embBatch.filter(col("vec_id") === 1)
        .select("embedding").collect().head.getSeq[Float](0)
      val pc = graft.operators.SqIndex.encodeVec(probe, scale)
      val embSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
      val emb = s.readStream
        .schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
      val q = graft.operators.SqIndex.ingestStream(emb, scale, s"$base/idx", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/idx")
        .dropDuplicates("vec_id")
        .select(col("vec_id"),
          expr("aggregate(codes, 0L, (acc, x) -> acc + x)").as("csum"),
          graft.operators.SqIndex.scoreCol(pc).as("score"))
        .orderBy("vec_id")
    },
    Some(s"""WITH ${NorthStar.sq8CodesCte},
            |agg AS (
            |  SELECT c.vec_id, CAST(SUM(c.c) AS BIGINT) AS csum,
            |         CAST(SUM(c.c * p.pc) AS BIGINT) AS score
            |  FROM c JOIN p ON c.i = p.i GROUP BY c.vec_id)
            |SELECT vec_id, csum, score FROM agg ORDER BY vec_id""".stripMargin))

  /** Streamed point-in-time enrichment — q43_scd2_lookup's serving twin:
    * orders arrive as micro-batches (three mtime-ordered slices) and each
    * trigger joins the batch against the STATIC versioned dimension
    * (Relational.scd2Dim — the q38 derivation), picking the segment each
    * order's customer was in ON ITS ORDER DATE; enriched rows land as
    * they fire and the final relation must equal the batch lookup
    * (q43's oracle verbatim). Per-trigger cost is batch x broadcast dim —
    * the dimension never rescans, facts never wait for a nightly join.
    * Set semantics restored on the unique order key (each order meets
    * exactly one dim version, so an at-least-once replay collapses).
    */
  val st_scd2_lookup: Query = Query(
    "st_scd2_lookup",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_scd2lk_").toString
      val orders = graft.tables.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      val dim = Relational.scd2Dim(graft.tables.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      for (sl <- 0 to 2)
        oneFile(orders.filter(pmod(col("o_orderkey"), lit(3)) === sl),
          s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
      val oSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderdate TIMESTAMP, o_totalprice DOUBLE")
      val streamed = s.readStream.schema(oSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = streamed.writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          Relational.scd2Enrich(b, dim)
            .select(col("o_orderkey"), col("segment"), col("o_totalprice"))
            .write.mode("append").parquet(s"$base/out")
        }
        .option("checkpointLocation", s"$base/cp")
        .start()
      try q.processAllAvailable() finally q.stop()
      Relational.scd2EnrichedAgg(
        s.read.parquet(s"$base/out").dropDuplicates("o_orderkey"))
    },
    Some(Relational.scd2LookupOracleSql))

  /** Streamed JOIN-view maintenance — e_join_maintain's fact side run as
    * a STREAM ([[graft.operators.JoinView.ingestStream]]): the customer
    * dimension seeds the view, events arrive as micro-batches (three
    * mtime-ordered slices), and each trigger applies the delta rule
    * under a REAL pinned batch id, so the persisted enriched-fact view
    * grows exactly-once (crash replay lands on ingest's committed-id
    * no-op). Same oracle as the batch row: the streamed, incrementally
    * maintained view must reproduce the one-shot whole-table join.
    */
  val st_join_ingest: Query = Query(
    "st_join_ingest",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_jv_").toString
      val ev = graft.tables.Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      val cust = graft.tables.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.operators.JoinView.build(ev.limit(0), cust, "user_id", s"$base/view")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
      for (sl <- 0 to 2)
        oneFile(ev.filter(pmod(col("event_id"), lit(3)) === sl),
          s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
      val evSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE")
      val streamed = s.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.operators.JoinView.ingestStream(
        streamed, "user_id", s"$base/view", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      EventAnalytics.joinViewAgg(s, s"$base/view")
    },
    Some(EventAnalytics.joinMaintainOracleSql))

  /** Streamed entity screening — d_entity_match's production shape (the
    * real-time record-linkage gate: every NEW record is screened against
    * the accumulated master list the moment it arrives, not in a nightly
    * all-pairs batch), against the PERSISTED parity-block index
    * ([[graft.operators.EntityBlockIndex.screenStream]]): customers
    * stream in three micro-batches; each trigger blocks ONLY its batch,
    * appends the blocks under a real pinned batch id, generates
    * candidates by equi-joining the batch's blocks against the STORED
    * master blocks, and verifies with the shared exact-levenshtein
    * lattice. Every qualifying pair is found exactly when its LATER
    * member arrives, so the accumulated matches equal the one-shot
    * all-pairs run — d_entity_match's oracle verbatim. Pairs are
    * normalized (smaller key first) and the final read restores set
    * semantics on the pair key (at-least-once contract).
    *
    * Per-trigger cost: batch-blocks x matching stored blocks — the
    * delta-rule shape on the parity-block key. The master list is never
    * re-read and never re-kerneled (each entity is blocked once in its
    * lifetime; the pre-r13 shape re-kerneled the FULL master per
    * trigger — EntityBlockIndexSpec pins the new contract).
    */
  val st_entity_screen: Query = Query(
    "st_entity_screen",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_entity_").toString
      val cust = graft.tables.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_name").as("name"))
      for (sl <- 0 to 2)
        oneFile(cust.filter(pmod(col("key"), lit(3)) === sl),
          s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, name STRING")
      val streamed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.operators.EntityBlockIndex.screenStream(
        streamed, s"$base/idx", s"$base/matches", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/matches")
        .dropDuplicates("a_key", "b_key")
        .select("a_key", "b_key", "dist")
        .orderBy("a_key", "b_key")
    },
    Some(NorthStar.entityMatchOracleSql))

  /** Streamed CROSS-LENGTH entity screening — st_entity_screen with
    * the deletion-neighborhood index ([[graft.operators.FastSsIndex
    * .screenStream]]) instead of the parity blocks: insert/delete typos
    * are screened too, so the real-time gate covers the FULL edit
    * distance <= 1 contract (d_entity_match_xlen's oracle). Same
    * per-trigger economics: the batch alone is hashed; the stored
    * master signatures are equi-joined (blocks = true ed<=2
    * neighborhoods, bucket-pruned), never re-read as text, never
    * re-kerneled.
    */
  val st_entity_screen_xlen: Query = Query(
    "st_entity_screen_xlen",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_entx_").toString
      val cust = graft.tables.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_name").as("name"))
      for (sl <- 0 to 2)
        oneFile(cust.filter(pmod(col("key"), lit(3)) === sl),
          s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, name STRING")
      val streamed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.operators.FastSsIndex.screenStream(
        streamed, s"$base/idx", s"$base/matches", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/matches")
        .dropDuplicates("a_key", "b_key")
        .select("a_key", "b_key", "dist")
        .orderBy("a_key", "b_key")
    },
    Some(NorthStar.entityMatchXlenOracleSql))

  /** st_entity_screen_xlen over the typo-PERTURBED relation
    * ([[NorthStar.typoPerturbed]] — the r13 verdict's non-vacuous gate:
    * the raw fixture has zero cross-length pairs, so this row is the one
    * whose DuckDB differential actually exercises the streamed screen's
    * insert/delete coverage). Perturbed variants ride the SAME
    * micro-batch slicing as their sources' keys modulo 3, so most
    * (source, variant) pairs arrive in DIFFERENT triggers — the
    * cross-batch cross-length case, screened at the later member.
    */
  val st_entity_typos: Query = Query(
    "st_entity_typos",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_enttypo_").toString
      val ents = NorthStar.typoPerturbed(
        graft.tables.Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("key"), col("c_name").as("name")))
      for (sl <- 0 to 2)
        oneFile(ents.filter(pmod(col("key"), lit(3)) === sl),
          s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, name STRING")
      val streamed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.operators.FastSsIndex.screenStream(
        streamed, s"$base/idx", s"$base/matches", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/matches")
        .dropDuplicates("a_key", "b_key")
        .select("a_key", "b_key", "dist")
        .orderBy("a_key", "b_key")
    },
    Some(NorthStar.entityTyposOracleSql))

  /** Streamed edit-distance <= 2 screening — the tau = 2 cell of the
    * real-time record-linkage gate ([[graft.operators.FastSsIndex
    * .screenStream]] at radius 2): every trigger hashes ONLY its batch
    * with the deletion-2 kernel, appends under a real pinned batch id,
    * equi-joins against the stored master signatures, and verifies with
    * the shared levenshtein lattice thresholded at 2 — two typos, a
    * transposition, or a double insert are screened the moment the
    * record arrives. Same per-trigger economics as the tau = 1 screens;
    * the radius marker pins the index to tau = 2 so a tau-1 writer
    * fails loudly instead of silently punching a recall hole. Oracle =
    * d_entity_match_ed2's unrestricted all-pairs join.
    */
  /** STREAMED scored matching (r16 verdict missing #3) — the production
    * linkage gate scoring EVERY arriving record: each trigger ingests
    * its records into the persisted tau = 2 index AND an attribute
    * projection, probes its own candidates, and lands the pairs that
    * clear the multi-attribute Fellegi-Sunter lattice (shared
    * [[NorthStar.scorePairs]] — name distance + nation + segment +
    * balance band, threshold >= 6), not name distance alone. Wiring is
    * [[graft.operators.FastSsIndex.screenStream]]'s with its emit hook;
    * attribute appends precede scoring inside the trigger, so both
    * endpoints of every pair resolve, and replays fold (key dedup +
    * pair dedup at read). Oracle: the batch lattice over all pairs with
    * name candidates <= 2 (d_entity_score's).
    */
  private def streamedScore(s: org.apache.spark.sql.SparkSession, dir: String,
                            cap: org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_entsc_").toString
    val cust = graft.tables.Tables.load(s, dir, "customer").filter(cap)
    val feed = cust.select(col("c_custkey").as("key"), col("c_name").as("name"),
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      expr("(cast(round(c_acctbal * 100) as bigint) + 100000) div 100000").as("band"))
    for (sl <- 0 to 2)
      oneFile(feed.filter(pmod(col("key"), lit(3)) === sl),
        s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "key BIGINT, name STRING, nat INT, seg STRING, band BIGINT")
    val streamed = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val q = graft.operators.FastSsIndex.screenStream(
      streamed, s"$base/idx", s"$base/matches", s"$base/cp", tau = 2,
      emit = (pairs, batch) => {
        batch.select("key", "nat", "seg", "band")
          .write.mode("append").parquet(s"$base/attrs")
        NorthStar.scorePairs(pairs,
          batch.sparkSession.read.parquet(s"$base/attrs").dropDuplicates("key"))
      })
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/matches")
      .dropDuplicates("a_key", "b_key")
      .select("a_key", "b_key", "score")
      .orderBy("a_key", "b_key")
  }

  val st_entity_score: Query = Query(
    "st_entity_score",
    (s, dir) => streamedScore(s, dir, lit(true)),
    Some(NorthStar.entityScoreOracleSql))

  /** st_entity_score's keys < 3000 twin — the capped discipline gives
    * the STREAMED scored gate an un-excluded sf0.1 differential.
    */
  val st_entity_score_capped: Query = Query(
    "st_entity_score_capped",
    (s, dir) => streamedScore(s, dir, col("c_custkey") < 3000),
    Some(NorthStar.entityScoreCappedOracleSql))

  /** Streamed LONG-STRING screen ([[graft.operators.PassJoinIndex
    * .screenStream]] — the stored PassJoin lifecycle's continuous shape):
    * document titles arrive in three slices, each trigger segments and
    * appends its batch under a real pinned id and probes its own
    * multi-match-aware substrings against everything stored, landing
    * verified ed <= 2 pairs. Oracle: the same all-pairs long-title
    * truth as d_passjoin_long.
    */
  private def streamedPassjoin(s: org.apache.spark.sql.SparkSession, dir: String,
                               cap: org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_pj_").toString
    val titles = NorthStar.longTitles(
      graft.tables.Tables.load(s, dir, "documents").filter(cap))
    for (sl <- 0 to 2)
      oneFile(titles.filter(pmod(col("key"), lit(3)) === sl),
        s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "key BIGINT, name STRING")
    val streamed = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val q = graft.operators.PassJoinIndex.screenStream(
      streamed, s"$base/idx", s"$base/matches", s"$base/cp", tau = 2)
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/matches")
      .dropDuplicates("a_key", "b_key")
      .select("a_key", "b_key", "dist")
      .orderBy("a_key", "b_key")
  }

  val st_passjoin: Query = Query(
    "st_passjoin",
    (s, dir) => streamedPassjoin(s, dir, lit(true)),
    Some(NorthStar.passjoinOracleSql("")))

  /** st_passjoin's doc_id < 500 twin — the capped discipline for the
    * streamed long-string screen's sf0.1 row.
    */
  val st_passjoin_capped: Query = Query(
    "st_passjoin_capped",
    (s, dir) => streamedPassjoin(s, dir, col("doc_id") < 500),
    Some(NorthStar.passjoinOracleSql(" AND doc_id < 500")))

  val st_entity_ed2: Query = Query(
    "st_entity_ed2",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_ented2_").toString
      val cust = graft.tables.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_name").as("name"))
      for (sl <- 0 to 2)
        oneFile(cust.filter(pmod(col("key"), lit(3)) === sl),
          s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, name STRING")
      val streamed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.operators.FastSsIndex.screenStream(
        streamed, s"$base/idx", s"$base/matches", s"$base/cp", tau = 2)
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/matches")
        .dropDuplicates("a_key", "b_key")
        .select("a_key", "b_key", "dist")
        .orderBy("a_key", "b_key")
    },
    Some(NorthStar.entityMatchEd2OracleSql))

  /** Entity RESOLUTION maintained from a STREAM — the streamed cell of
    * the cluster family (d_entity_clusters' production shape): entities
    * arrive as micro-batches over the planted-duplicate relation, each
    * trigger screens ONLY its batch against the stored deletion-
    * neighborhood index ([[graft.operators.FastSsIndex.screenStream]])
    * and lands its verified pairs the moment the increment commits —
    * the accumulated pair LOG is output-sized, and the label refresh
    * (ConnectedComponents over the log) runs over exactly that log,
    * never the corpus. That split is the 100 TB shape: pair discovery
    * is incremental and delta-priced; the closure re-runs edge-sized on
    * whatever cadence the consumer needs labels (a per-trigger
    * incremental union-find would save only the edge-sized CC pass —
    * the corpus-sized work is already incremental). Same recursive-
    * closure oracle as the batch row: the streamed pair feed provably
    * loses nothing, including pairs whose members arrive in different
    * triggers.
    */
  val st_entity_clusters: Query = Query(
    "st_entity_clusters",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_entcl_").toString
      val ents = NorthStar.clusterEnts(graft.tables.Tables.load(s, dir, "customer"))
      // slice by key: group members (key div 3 siblings) land in
      // DIFFERENT triggers, so cross-trigger pairs ride the stored probe
      for (sl <- 0 to 2)
        oneFile(ents.filter(pmod(col("key"), lit(3)) === sl),
          s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, name STRING")
      val streamed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.operators.FastSsIndex.screenStream(
        streamed, s"$base/idx", s"$base/matches", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      val pairs = s.read.parquet(s"$base/matches")
        .dropDuplicates("a_key", "b_key")
        .select("a_key", "b_key")
      val (labels, _) = graft.operators.ConnectedComponents.label(pairs)
      labels.select(col("id").as("key"), col("lab").as("cluster"))
        .orderBy("key")
    },
    Some(s"""WITH RECURSIVE ${NorthStar.entityClusterCte()}
            |SELECT key, cluster FROM cl ORDER BY key""".stripMargin))

  /** The composed incremental pipeline STREAMED — e_pipeline_ivm's
    * production shape: facts arrive as micro-batches and ONE trigger
    * advances BOTH maintained stages under the SAME pinned batch id —
    * the delta joins into the persisted enriched view
    * ([[graft.operators.JoinView.ingest]], explicit id), then exactly
    * that batch's new enriched rows (the view's `batch=` partition — the
    * change feed) roll into the stored partial table
    * ([[graft.operators.AggIndex.ingest]]). Crash replay is safe at both
    * stages: JoinView no-ops on a committed id, and AggIndex's
    * merged-dedup folds a re-appended identical partial. The dashboard
    * (segment x day rollup) is correct the moment each trigger commits —
    * no nightly join, no nightly rollup. Oracle: the one-shot join +
    * rollup over everything (e_pipeline_ivm's SQL verbatim).
    */
  val st_pipeline_ivm: Query = Query(
    "st_pipeline_ivm",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_ivm_").toString
      val ev = graft.tables.Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      val cust = graft.tables.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      // seed: the dimension plus the first fact slice, rolled up as batch 0
      graft.operators.JoinView.build(
        ev.filter(pmod(col("event_id"), lit(3)) === 0), cust, "user_id", s"$base/jv")
      graft.operators.AggIndex.build(
        EventAnalytics.pipelineViewBatch(s, s"$base/jv", 0), s"$base/agg")
      for (sl <- 1 to 2)
        oneFile(ev.filter(pmod(col("event_id"), lit(3)) === sl),
          s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
      val evSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
      val streamed = s.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = streamed.writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val db = cust.limit(0)
          val n = (batchId + 1).toInt // seed holds batch 0
          graft.operators.JoinView.ingest(b, db, "user_id", s"$base/jv", batch = n)
          graft.operators.AggIndex.ingest(
            EventAnalytics.pipelineViewBatch(b.sparkSession, s"$base/jv", n),
            s"$base/agg", batch = n)
          ()
        }
        .option("checkpointLocation", s"$base/cp")
        .start()
      try q.processAllAvailable() finally q.stop()
      EventAnalytics.pipelineIvmGate(s, dir, s"$base/agg")
    },
    Some(EventAnalytics.pipelineIvmOracleSql))

  /** The composed CDC pipeline STREAMED — e_pipeline_cdc's production
    * shape (r16 verdict missing #1, streamed cell): a fact CHANGEFEED
    * (upserts + deletes, op column) arrives as micro-batches and ONE
    * trigger advances BOTH maintained stages under the SAME pinned batch
    * id — the ops apply to the CDC [[graft.operators.JoinView]]
    * (sign-resolved enriched facts), then exactly that batch's SIGNED
    * view partition corrects the stored [[graft.operators.AggIndex]]
    * partials ([[graft.operators.AggIndex.ingestCdc]], state = the
    * view's own merged read — replay-stable because the view's ledger
    * no-ops its trigger first, which is precisely ingestCdc's documented
    * replay contract). The dashboard is CDC-correct the moment each
    * trigger commits: a deleted fact leaves its (prio, day) cell, an
    * updated value re-sums it, with no log rescans at either stage.
    */
  /** The N-WAY star view fed by a streamed fact changefeed
    * ([[graft.operators.StarView.cdcStream]] — the e_join3_cdc family's
    * streamed twin): fact upserts, deletes, and re-inserts arrive one
    * trigger each while the three dims stay batch-ingested state; the
    * sign-resolved star rollup after the stream must equal the one-shot
    * latest-state 3-way join. Same two-marker exactly-once wiring as
    * every other streamed CDC cell.
    */
  val st_join3_cdc: Query = Query(
    "st_join3_cdc",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_star3_").toString
      val li = graft.tables.Tables.load(s, dir, "lineitem")
      val fact = li
        .groupBy((col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("pk"))
        .agg(min(col("l_orderkey")).as("l_orderkey"),
          min(col("l_partkey")).as("l_partkey"),
          min(col("l_suppkey")).as("l_suppkey"),
          min(col("l_quantity")).as("qty"))
      val dO = graft.tables.Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority").as("prio"))
      val dP = graft.tables.Tables.load(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand").as("brand"))
      val dS = graft.tables.Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"),
          col("s_nationkey").cast("long").as("snation"))
      graft.operators.StarView.build(fact, "pk",
        Seq("l_orderkey" -> dO, "l_partkey" -> dP, "l_suppkey" -> dS),
        s"$base/star", cdc = true)
      // 1: value upserts; 2: deletes; 3: re-insert half the deleted keys
      // at a new value (an ordinary +1 image out-batching the delete)
      val ops = Seq(
        fact.filter(col("pk") % 17 === 0)
          .withColumn("qty", col("qty") + 5).withColumn("op", lit("u")),
        fact.filter(col("l_orderkey") % 19 === 3).withColumn("op", lit("d")),
        fact.filter(col("l_orderkey") % 38 === 3)
          .withColumn("qty", col("qty") + 9).withColumn("op", lit("u")))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
      val fSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "pk BIGINT, l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
          "qty DOUBLE, op STRING")
      val streamed = s.readStream.schema(fSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.operators.StarView.cdcStream(streamed, s"$base/star", s"$base/cp")
      try {
        for ((sl, i) <- ops.zipWithIndex) {
          oneFile(sl, s"$base/src/s$i.parquet", 1000000000000L + i * 60000L)
          q.processAllAvailable()
        }
      } finally q.stop()
      graft.operators.StarView.merged(s, s"$base/star")
        .groupBy("prio", "brand", "snation")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("qty").cast("decimal(18,6)")), 2).cast("double").as("sum_qty"))
        .orderBy("prio", "brand", "snation")
    },
    Some("""WITH l AS (
           |  SELECT l_orderkey*8 + l_linenumber AS pk, MIN(l_orderkey) AS l_orderkey,
           |         MIN(l_partkey) AS l_partkey, MIN(l_suppkey) AS l_suppkey,
           |         MIN(l_quantity) AS qty0
           |  FROM lineitem GROUP BY 1),
           |f AS (
           |  SELECT pk, l_orderkey, l_partkey, l_suppkey,
           |         CASE WHEN l_orderkey % 38 = 3 THEN qty0 + 9
           |              WHEN pk % 17 = 0 THEN qty0 + 5 ELSE qty0 END AS qty
           |  FROM l WHERE l_orderkey % 19 <> 3 OR l_orderkey % 38 = 3)
           |SELECT o.o_orderpriority AS prio, p.p_brand AS brand,
           |       CAST(s.s_nationkey AS BIGINT) AS snation,
           |       CAST(COUNT(*) AS BIGINT) AS cnt,
           |       CAST(ROUND(SUM(CAST(f.qty AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
           |FROM f
           |JOIN orders o ON f.l_orderkey = o.o_orderkey
           |JOIN part p ON f.l_partkey = p.p_partkey
           |JOIN supplier s ON f.l_suppkey = s.s_suppkey
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin))

  val st_pipeline_cdc: Query = Query(
    "st_pipeline_cdc",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_cdcivm_").toString
      val ord = graft.tables.Tables.load(s, dir, "orders")
      val a0 = ord.select(col("o_orderkey").as("key"), col("o_orderdate").as("ts"),
        col("o_custkey").as("user_id"), col("o_totalprice").as("value"))
      val b0 = ord.select(col("o_orderkey").as("key"), col("o_orderpriority").as("prio"))
      def feed(s2: org.apache.spark.sql.SparkSession, n: Int) =
        s2.read.parquet(s"$base/jv/view").filter(col("batch") === n)
          .select(col("prio").as("event_type"), col("ts"),
            col("value"), col("user_id"), col("sgn"))
      // day-pruned recompute source (the e_pipeline_cdc discipline): each
      // correction reads only the affected days' pd= partitions
      def state(s2: org.apache.spark.sql.SparkSession)(days: Seq[String]) =
        graft.operators.JoinView.mergedForDays(s2, s"$base/jv", days)
          .select(col("prio").as("event_type"), col("ts"),
            col("value"), col("user_id"))
      graft.operators.JoinView.build(a0, b0, "key", s"$base/jv", cdc = true,
        dayCol = "ts")
      graft.operators.AggIndex.build(feed(s, 0).drop("sgn"), s"$base/agg", cdc = true)
      // the changefeed: 1 = value corrections, 2 = deletes, 3 = re-insert
      // half the deleted keys at a new value
      val ops = Seq(
        a0.filter(col("key") % 7 === 3).withColumn("value", col("value") + 100)
          .withColumn("op", lit("u")),
        a0.filter(col("key") % 13 === 2).withColumn("op", lit("d")),
        a0.filter(col("key") % 26 === 2).withColumn("value", col("value") + 50)
          .withColumn("op", lit("u")))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
      val fSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE, op STRING")
      val streamed = s.readStream.schema(fSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = streamed.writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val s2 = b.sparkSession
          val n = (batchId + 1).toInt // seed holds batch 0
          val db = b0.limit(0)
          graft.operators.JoinView.ingestCdc(
            b.filter(!col("op").eqNullSafe("d")).drop("op"), db, "key",
            s"$base/jv", batch = n,
            delA = b.filter(col("op").eqNullSafe("d")).select(col("key")))
          graft.operators.AggIndex.ingestCdc(feed(s2, n), null, s"$base/agg", n,
            stateForDays = state(s2))
          ()
        }
        .option("checkpointLocation", s"$base/cp")
        .start()
      try {
        for ((sl, i) <- ops.zipWithIndex) {
          oneFile(sl, s"$base/src/s$i.parquet", 1000000000000L + i * 60000L)
          q.processAllAvailable()
        }
      } finally q.stop()
      // gate: exact distinct from the corrected one-shot join
      val aCor = a0.filter(col("key") % 13 =!= 2 || col("key") % 26 === 2)
        .withColumn("value",
          when(col("key") % 26 === 2, col("value") + 50)
            .when(col("key") % 7 === 3, col("value") + 100)
            .otherwise(col("value")))
      val exact = aCor.join(b0, Seq("key"))
        .groupBy(col("prio").as("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      graft.operators.AggIndex.merged(s, s"$base/agg")
        .join(exact, Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("cnt"),
          round(col("sum_v"), 2).cast("double").as("sum_v"),
          col("min_v"), col("max_v"), col("exact_users"),
          (abs(col("users") - col("exact_users")).cast("double") <=
            col("exact_users").cast("double") * 0.05).as("within_5pct"))
        .orderBy("event_type", "day")
    },
    Some("""WITH a AS (
           |  SELECT o_orderkey AS key, CAST(o_orderdate AS TIMESTAMP) AS ts,
           |         o_custkey AS user_id,
           |         CASE WHEN o_orderkey % 26 = 2 THEN o_totalprice + 50
           |              WHEN o_orderkey % 7 = 3 THEN o_totalprice + 100
           |              ELSE o_totalprice END AS value
           |  FROM orders WHERE o_orderkey % 13 <> 2 OR o_orderkey % 26 = 2),
           |v AS (SELECT o.o_orderpriority AS event_type, a.ts, a.user_id, a.value
           |      FROM a JOIN orders o ON a.key = o.o_orderkey)
           |SELECT event_type,
           |       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           |       CAST(COUNT(*) AS BIGINT) AS cnt,
           |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_v,
           |       MIN(value) AS min_v, MAX(value) AS max_v,
           |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           |       TRUE AS within_5pct
           |FROM v GROUP BY event_type, day ORDER BY event_type, day""".stripMargin))

  /** Streamed SCD type-2 dimension maintenance — q38_scd2_merge's batch
    * upsert run CONTINUOUSLY ([[graft.operators.Scd2Dim]]): the customer
    * dimension is seeded once, then every event is treated as a
    * segment-change update for its user and merged per micro-batch (three
    * deterministic md5 slices of the event log, each its own trigger) into
    * the persisted `kb=`-bucketed dimension — close the open row, append
    * the new version, rewrite ONLY the touched buckets (dynamic partition
    * overwrite). The merge rebuilds affected keys' timelines from the
    * stored rows + the batch, so batch application is COMMUTATIVE (late /
    * out-of-order updates splice exactly — Scd2DimSpec shuffles the slice
    * order and pins equality) and at-least-once replay collapses. Oracle:
    * the full-history SCD2 derivation (base snapshot + all updates, one
    * LEAD window) — the streamed, incrementally-merged table must equal
    * the from-scratch batch timeline row for row.
    */
  val st_scd2: Query = Query(
    "st_scd2",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_scd2_").toString
      val dim = s"$base/dim"
      val dim0 = graft.tables.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      graft.operators.Scd2Dim.seed(dim0, "1992-01-01 00:00:00", dim)
      val ev = graft.tables.Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type").as("segment"))
      val sliceCol = {
        val h = substring(md5(concat(col("event_id").cast("string"), lit(":scd2"))), 1, 1)
        when(h <= "4", 0).when(h <= "9", 1).otherwise(2)
      }
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
      val updSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, segment STRING")
      val streamed = s.readStream.schema(updSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.operators.Scd2Dim.upsertStream(streamed, dim, s"$base/cp")
      try {
        for (sl <- 0 to 2) {
          oneFile(ev.filter(sliceCol === sl), s"$base/src/s$sl.parquet",
            1000000000000L + sl * 60000L)
          q.processAllAvailable()
        }
      } finally q.stop()
      graft.operators.Scd2Dim.read(s, dim)
        .select(col("user_id"), col("segment"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "valid_from")
    },
    Some("""WITH upd AS (
           |  SELECT user_id, CAST(ts AS TIMESTAMP) AS vf, event_type AS segment,
           |         event_id AS eid
           |  FROM events),
           |base AS (
           |  SELECT c_custkey AS user_id, TIMESTAMP '1992-01-01' AS vf,
           |         c_mktsegment AS segment, CAST(-1 AS BIGINT) AS eid
           |  FROM customer),
           |t AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
           |d AS (
           |  SELECT * FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, vf ORDER BY eid DESC) AS rn
           |    FROM t) r WHERE rn = 1),
           |x AS (
           |  SELECT user_id, segment, vf,
           |         LEAD(vf) OVER (PARTITION BY user_id ORDER BY vf) AS vt
           |  FROM d)
           |SELECT user_id, segment,
           |       strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
           |       strftime(COALESCE(vt, TIMESTAMP '9999-12-31'), '%Y-%m-%d %H:%M:%S') AS valid_to,
           |       vt IS NULL AS is_current
           |FROM x ORDER BY user_id, valid_from""".stripMargin))

  /** Shared oracle for the SCD2 DELETE lifecycle (batch + streamed): the
    * full-history timeline where a delete change point (event_id % 11 =
    * 3) CLOSES the key's version at the delete ts and is itself never a
    * presentation row — a churned key has no current row until (unless)
    * a later change point re-opens it.
    */
  private val scd2DeleteOracleSql: String =
    """WITH upd AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS vf,
      |         CASE WHEN event_id % 11 = 3 THEN NULL ELSE event_type END AS segment,
      |         event_id AS eid, (event_id % 11 = 3) AS del
      |  FROM events),
      |base AS (
      |  SELECT c_custkey AS user_id, TIMESTAMP '1992-01-01' AS vf,
      |         c_mktsegment AS segment, CAST(-1 AS BIGINT) AS eid, FALSE AS del
      |  FROM customer),
      |t AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
      |d AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, vf ORDER BY eid DESC) AS rn
      |    FROM t) r WHERE rn = 1),
      |x AS (
      |  SELECT user_id, segment, vf, del,
      |         LEAD(vf) OVER (PARTITION BY user_id ORDER BY vf) AS vt
      |  FROM d)
      |SELECT user_id, segment,
      |       strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |       strftime(COALESCE(vt, TIMESTAMP '9999-12-31'), '%Y-%m-%d %H:%M:%S') AS valid_to,
      |       vt IS NULL AS is_current
      |FROM x WHERE NOT del ORDER BY user_id, valid_from""".stripMargin

  /** The events feed as a dimension CHANGEFEED: every event is a segment
    * update for its user, except event_id % 11 = 3 rows which are
    * DELETES (op = 'd'). Shared by the batch and streamed delete rows.
    */
  private def scd2Changefeed(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.tables.Tables.load(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type").as("segment"),
        when(col("event_id") % 11 === 3, "d").otherwise("u").as("op"))

  private def scd2Presentation(df: org.apache.spark.sql.DataFrame) =
    df.select(col("user_id"), col("segment"),
      date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
      date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
      col("is_current"))
    .orderBy("user_id", "valid_from")

  /** BATCH SCD2 changefeed deletes ([[graft.operators.Scd2Dim.cdcBatch]]
    * — r16 verdict missing #2): three mixed upsert+delete batches merged
    * into the seeded dimension; a delete closes the current version at
    * the delete ts with no successor, a later change point re-opens the
    * key, late deletes splice, and the commutative rebuild keeps any
    * slice order convergent (the upsert family's contract, now over the
    * full Debezium op set).
    */
  val e_scd2_delete: Query = Query(
    "e_scd2_delete",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_scd2del_").toString
      val dim = s"$base/dim"
      graft.operators.Scd2Dim.seed(
        graft.tables.Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment")),
        "1992-01-01 00:00:00", dim)
      val feed = scd2Changefeed(s, dir)
      for (sl <- 0 to 2)
        graft.operators.Scd2Dim.cdcBatch(s,
          feed.filter(pmod(col("event_id"), lit(3)) === sl), dim)
      scd2Presentation(graft.operators.Scd2Dim.read(s, dim))
    },
    Some(scd2DeleteOracleSql))

  /** STREAMED SCD2 changefeed deletes — e_scd2_delete's production shape
    * ([[graft.operators.Scd2Dim.cdcStream]]): the mixed changefeed
    * arrives as micro-batches (one trigger may carry upserts AND deletes
    * — applied atomically in one merge/commit) and the final dimension
    * must equal the from-scratch timeline row for row.
    */
  val st_scd2_delete: Query = Query(
    "st_scd2_delete",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_scd2dels_").toString
      val dim = s"$base/dim"
      graft.operators.Scd2Dim.seed(
        graft.tables.Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment")),
        "1992-01-01 00:00:00", dim)
      val feed = scd2Changefeed(s, dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
      val fSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, segment STRING, op STRING")
      val streamed = s.readStream.schema(fSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.operators.Scd2Dim.cdcStream(streamed, dim, s"$base/cp")
      try {
        for (sl <- 0 to 2) {
          oneFile(feed.filter(pmod(col("event_id"), lit(3)) === sl),
            s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
          q.processAllAvailable()
        }
      } finally q.stop()
      scd2Presentation(graft.operators.Scd2Dim.read(s, dim))
    },
    Some(scd2DeleteOracleSql))

  /** Streamed CDC upserts into the maintained join view (r15 verdict
    * task 3 — [[graft.operators.JoinView.upsertStream]]): fact-side row
    * images arrive across three triggers (an update wave, then a second
    * correction split over two triggers), each applied by [[graft
    * .operators.JoinView.ingestCdc]] under a checkpoint-pinned REAL
    * batch id (the st_join_ingest discipline verbatim: applied marker +
    * ledger writer line close both replay crash windows), then the
    * dimension-side correction lands by BATCH after the stream stops —
    * the production interleave (facts stream continuously, dimensions
    * batch-correct between stream runs). The sign-resolved view must
    * equal the one-shot join over latest-state inputs, keys overlapping
    * across triggers resolved by arrival order (%7 = 3 ∩ %11 = 4 keys
    * take the LATER 'W').
    */
  val st_join_cdc: Query = Query(
    "st_join_cdc",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_jvcdc_").toString
      val ord = graft.tables.Tables.load(s, dir, "orders")
      val a0 = ord.select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"))
      val b0 = ord.select(col("o_orderkey").as("key"), col("o_orderpriority").as("prio"))
      graft.operators.JoinView.build(a0, b0, "key", s"$base/view", cdc = true)
      oneFile(a0.filter(col("key") % 7 === 3).select(col("key"), lit("U").as("status")),
        s"$base/src/s0.parquet", 1000000000000L)
      oneFile(a0.filter(col("key") % 11 === 4 && col("key") % 2 === 0)
          .select(col("key"), lit("W").as("status")),
        s"$base/src/s1.parquet", 1000000060000L)
      oneFile(a0.filter(col("key") % 11 === 4 && col("key") % 2 === 1)
          .select(col("key"), lit("W").as("status")),
        s"$base/src/s2.parquet", 1000000120000L)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, status STRING")
      val streamed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.operators.JoinView.upsertStream(
        streamed, "key", s"$base/view", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      graft.operators.JoinView.ingestCdc(a0.limit(0),
        b0.filter(col("key") % 5 === 1).select(col("key"), lit("P9").as("prio")),
        "key", s"$base/view")
      graft.operators.JoinView.merged(s, s"$base/view").orderBy("key")
    },
    Some("""SELECT o_orderkey AS key,
           |       CASE WHEN o_orderkey % 11 = 4 THEN 'W'
           |            WHEN o_orderkey % 7 = 3 THEN 'U'
           |            ELSE o_orderstatus END AS status,
           |       CASE WHEN o_orderkey % 5 = 1 THEN 'P9' ELSE o_orderpriority END AS prio
           |FROM orders ORDER BY key""".stripMargin))

  /** The FULL streamed changefeed ([[graft.operators.JoinView
    * .cdcStream]]): one stream carries upserts AND deletes via the
    * Debezium-style op column — trigger 1 updates (%7 = 3 -> 'U'),
    * trigger 2 DELETES (%13 = 2, op = 'd'), trigger 3 RE-INSERTS half of
    * the deleted keys (%26 = 2 -> 'R'). The latest-state oracle drops a
    * key iff deleted and not re-inserted; a delete marker that fails to
    * kill the pair, a retraction that kills too much, or a re-insert
    * blocked by the stale marker all hash-diverge (e_join_delete's
    * contract, arriving through the stream wiring with its op split).
    */
  val st_join_cdc_delete: Query = Query(
    "st_join_cdc_delete",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_jvcdcd_").toString
      val ord = graft.tables.Tables.load(s, dir, "orders")
      val a0 = ord.select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"))
      val b0 = ord.select(col("o_orderkey").as("key"), col("o_orderpriority").as("prio"))
      graft.operators.JoinView.build(a0, b0, "key", s"$base/view", cdc = true)
      oneFile(a0.filter(col("key") % 7 === 3)
          .select(col("key"), lit("U").as("status"), lit("u").as("op")),
        s"$base/src/s0.parquet", 1000000000000L)
      oneFile(a0.filter(col("key") % 13 === 2)
          .select(col("key"), lit(null).cast("string").as("status"), lit("d").as("op")),
        s"$base/src/s1.parquet", 1000000060000L)
      oneFile(a0.filter(col("key") % 26 === 2)
          .select(col("key"), lit("R").as("status"), lit("u").as("op")),
        s"$base/src/s2.parquet", 1000000120000L)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, status STRING, op STRING")
      val streamed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.operators.JoinView.cdcStream(
        streamed, "key", s"$base/view", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
      graft.operators.JoinView.merged(s, s"$base/view").orderBy("key")
    },
    Some("""SELECT o_orderkey AS key,
           |       CASE WHEN o_orderkey % 26 = 2 THEN 'R'
           |            WHEN o_orderkey % 7 = 3 THEN 'U'
           |            ELSE o_orderstatus END AS status,
           |       o_orderpriority AS prio
           |FROM orders
           |WHERE o_orderkey % 13 <> 2 OR o_orderkey % 26 = 2
           |ORDER BY key""".stripMargin))

  val all: Seq[Query] = Seq(st_tumbling, st_session, st_user_totals, st_enriched,
    st_dedup, st_stream_join, st_stream_join_left, st_foreachbatch, st_sig_ingest,
    st_pq_ingest, st_substring_ingest, st_ivfpq_ingest, st_sig_probe,
    st_substring_probe, st_minhash_probe, st_pq_probe, st_ivfpq_probe,
    st_filtered_probe, st_decontam_fuzzy, st_agg_ingest, st_forget, st_scd2,
    st_sq8_ingest, st_join_ingest, st_scd2_lookup, st_pipeline_ivm,
    st_entity_screen, st_entity_screen_xlen, st_entity_typos, st_entity_ed2,
    st_entity_clusters, st_join_cdc, st_join_cdc_delete,
    e_scd2_delete, st_scd2_delete, st_entity_score, st_entity_score_capped,
    st_pipeline_cdc, st_join3_cdc, st_passjoin, st_passjoin_capped)
}
