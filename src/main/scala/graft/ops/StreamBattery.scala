package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.EventTimeOps

/** The custom-state streaming operators under the DuckDB oracle gate —
  * replayed deterministically from parquet file feeds, the same
  * discipline as `q_stream_sync`:
  *
  *  - batch ORDER is pinned by explicit file modification times (the
  *    file source triggers oldest-first), so the replay is
  *    reproducible run over run;
  *  - slices are cut along the dimension that makes the end state
  *    order-insensitive anyway (ascending event time / min-id-first),
  *    so even a tie in mod times cannot move the hash;
  *  - watermark-held results are flushed by sentinel batches whose own
  *    rows can never emit (their event times sit beyond every
  *    watermark the query will reach).
  */
object StreamBattery {

  /** Run `body` with the RocksDB state store provider — the provider a
    * full-corpus deployment uses (state no longer bounded by executor
    * heap; see EventTimeOps scaladoc). Gating the custom-state queries
    * on it proves the sessionize/dedup state contracts are not
    * HDFSBackedStateStore-only: same oracle hashes either way.
    * Restores the previous provider afterwards — Verify/Bench share one
    * session across the battery. `GRAFT_STATE_STORE=hdfs` opts out
    * (e.g. a platform without the rocksdbjni native lib). */
  private def withStateStore[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    if (sys.env.get("GRAFT_STATE_STORE").contains("hdfs")) body
    else {
      val prev = s.conf.getOption(key)
      s.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
      try body
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the previous value afterwards. The replay feeds are
    * deliberately tiny (the gates prove STATE CONTRACTS — watermark
    * eviction, cross-batch state, topo-ordered merges — not volume),
    * but every stateful operator opens a state-store instance PER
    * SHUFFLE PARTITION per micro-batch: at the battery's 32
    * partitions, the 4-batch outer join opened ~hundreds of store
    * instances to shuffle a few thousand rows, and that store churn —
    * not the operators — dominated ~31 s of battery time (r13 verdict
    * #2). Partition count is a volume dial, not a semantics dial:
    * state contracts are per-key and every gate orderBy's its result,
    * so the oracle hash is invariant. A real deployment sizes shuffle
    * partitions to its stream volume exactly the same way. */
  private[ops] def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.getOption(key)
    s.conf.set(key, n.toString)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Data-derived shuffle width for a replay feed: ~1 MB of feed
    * parquet per partition, floored at 4 and capped at the session's
    * core count. At sf0.1 every feed is well under 4 MB → width 4; at
    * 90× the same feeds carry 90× the rows and derive back up to the
    * full width — a fixed width would either pay store churn at sf
    * scale or starve the 90× replay (both measured; see
    * withShufflePartitions). */
  private[ops] def dirBytes(s: SparkSession, dir: String): Long =
    try {
      val p = new Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    } catch { case _: Exception => 0L }

  private[ops] def replayPartitions(s: SparkSession, feedDir: String): Int =
    sys.env.get("GRAFT_REPLAY_PARTITIONS").flatMap(_.toIntOption).getOrElse {
      val bytes = dirBytes(s, feedDir)
      math.max(4, math.min(s.sparkContext.defaultParallelism, (bytes >> 20).toInt))
    }

  private def writeSlice(df: DataFrame, dir: String, seq: Int): Unit = {
    val spark = df.sparkSession
    df.coalesce(1).write.mode("append").parquet(dir)
    // pin the batch order: the file source sorts by modification time
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.listStatus(new Path(dir))
      .filter(f => f.getPath.getName.startsWith("part-"))
      .sortBy(_.getModificationTime)
    status.zipWithIndex.foreach { case (f, i) =>
      fs.setTimes(f.getPath, 1000000000000L + i * 10000L, -1)
    }
    require(status.length == seq + 1, s"expected ${seq + 1} slice files")
  }

  /** Streaming gap sessionization (EventTimeOps.sessionize,
    * watermark-final emission) replayed over the events table in three
    * ascending event-time slices — ascending order means no slice can
    * fall behind the watermark, so nothing is dropped and the final
    * session set must equal the BATCH lag-cumsum sessionization the
    * oracle states (q_sessionize's mirror, regrouped to one row per
    * session). Times are truncated to millis on both sides: the
    * streaming state keys on epoch-millis, so the oracle must use the
    * same grid or a sub-ms gap exactly at the 30-min boundary would
    * split differently. Two far-future sentinel batches advance the
    * watermark past every real session's end+gap and trigger the
    * timeout pass that emits them; the sentinel user's own sessions
    * stay held in state and never reach the output. */
  val streamSessionize = Q(
    "q_stream_sessionize",
    Some(
      // user_id % 3 subsample: the gate proves the sessionize state
      // contract (ascending replay, watermark-final emission, sentinel
      // flush) — per-user semantics are identical at any corpus width,
      // so the feed carries a third of the users and the bench measures
      // the streaming machinery, not slice volume.
      "WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS ms, event_id " +
        "FROM events WHERE user_id % 3 = 0), " +
        "f AS (SELECT user_id, ms, event_id, CASE WHEN lag(ms) OVER w IS NULL " +
        "OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS is_new FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)), " +
        "g AS (SELECT user_id, ms, sum(is_new) OVER (" +
        "PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f) " +
        "SELECT user_id, min(ms) AS start_ms, max(ms) AS end_ms, " +
        "count(*) AS n_events FROM g GROUP BY user_id, sid ORDER BY 1, 2"),
    (s, dir) => {
      import s.implicits._
      def evFrame = {
        val ev0 = Td(s, dir, "events").filter(col("user_id") % 3 === 0)
        ev0.select(col("user_id"), timestamp_millis(Td.tsMs(ev0)).as("ts"))
      }
      val feed = FeedCache(
        s"stream_sess:$dir:mod=3:cuts=thirds:sentinels=100d") { feedDir =>
        val ev = evFrame
        val Row2 = ev.agg(unix_millis(min(col("ts"))), unix_millis(max(col("ts"))))
          .head()
        val (lo, hi) = (Row2.getLong(0), Row2.getLong(1))
        val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
        val ms = unix_millis(col("ts"))
        writeSlice(ev.filter(ms < cut1), feedDir, 0)
        writeSlice(ev.filter(ms >= cut1 && ms < cut2), feedDir, 1)
        writeSlice(ev.filter(ms >= cut2), feedDir, 2)
        // sentinels: far beyond every real end+gap, for a user id outside
        // the real key space — the second one triggers the timeout pass
        // under the watermark the first one advanced. They sit within one
        // gap of EACH OTHER, so the sentinel session's own end+gap stays
        // ahead of any watermark the query reaches (including the final
        // empty commit batch) and it can never leak into the output.
        val day = 86400000L
        writeSlice(Seq((-1L, new java.sql.Timestamp(hi + 100 * day)))
          .toDF("user_id", "ts"), feedDir, 3)
        writeSlice(Seq((-1L, new java.sql.Timestamp(hi + 100 * day + 60000L)))
          .toDF("user_id", "ts"), feedDir, 4)
      }
      withShufflePartitions(s, replayPartitions(s, feed)) { withStateStore(s) {
      val name = s"stream_sess_${System.nanoTime()}"
      val q = EventTimeOps.sessionize(
        s.readStream.schema(evFrame.schema).option("maxFilesPerTrigger", 1)
          .parquet(feed).as[EventTimeOps.Ev],
        gapMinutes = 30, watermarkDelay = "1 minute")
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      q.awaitTermination()
      s.table(name)
        .select(col("user_id"), unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"), col("n_events"))
        .orderBy(col("user_id"), col("start_ms"))
      }}
    }
  )

  /** Streaming exact dedup (first-seen-wins across micro-batches)
    * replayed as originals-then-duplicates: the originals slice goes
    * first (pinned mod time), so every hash's keeper is its global min
    * doc id — which is exactly the closed form the oracle states over
    * the union. Emission is immediate on first sight (no watermark),
    * so no sentinel batches are needed. */
  val streamDedup = Q(
    "q_stream_dedup",
    Some(
      // doc_id % 3 subsample: the first-seen-wins state contract is
      // per-hash — identical at any corpus width (see q_stream_sessionize)
      "WITH u AS (SELECT doc_id, md5(text) AS content_hash FROM documents " +
        "WHERE doc_id % 3 = 0 " +
        "UNION ALL SELECT doc_id + 1000000, md5(text) FROM documents " +
        "WHERE doc_id % 3 = 0) " +
        "SELECT min(doc_id) AS doc_id, content_hash FROM u " +
        "GROUP BY content_hash ORDER BY 1"),
    (s, dir) => {
      import s.implicits._
      def docsFrame = Td(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
      val feed = FeedCache(
        s"stream_dedup:$dir:mod=3:dupbase=1000000:parity-split") { feedDir =>
        val docs = docsFrame
        writeSlice(docs, feedDir, 0)
        val dups = docs.select((col("doc_id") + 1000000L).as("doc_id"),
          col("content_hash"))
        writeSlice(dups.filter(col("doc_id") % 2 === 0), feedDir, 1)
        writeSlice(dups.filter(col("doc_id") % 2 === 1), feedDir, 2)
      }
      withShufflePartitions(s, replayPartitions(s, feed)) { withStateStore(s) {
      val name = s"stream_dedup_${System.nanoTime()}"
      val q = EventTimeOps.streamingExactDedup(
        s.readStream.schema(docsFrame.schema).option("maxFilesPerTrigger", 1)
          .parquet(feed).as[EventTimeOps.Doc])
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      q.awaitTermination()
      s.table(name).select(col("doc_id"), col("content_hash"))
        .orderBy(col("doc_id"))
      }}
    }
  )

  /** Stream-stream event-time interval join (beyond parity — rounds
    * out the Structured Streaming family): views (even event ids) and
    * clicks (odd) replay from the same deterministic feed as two
    * independent file-source streams; a click joins a view of the same
    * user when it lands within [view_ts, view_ts + 10 min] — the
    * classic attribution join. Both sides carry 10-minute watermarks,
    * which bound the join STATE (a row can be dropped once the other
    * side's watermark passes its constraint range) — the property that
    * makes the operator viable on an unbounded 100 TB stream. INNER
    * stream-stream joins emit on match rather than on watermark
    * advance, so the final memory-sink contents equal the batch
    * interval join in closed form, independent of how the two sources'
    * micro-batches interleave — no sentinel flush needed (contrast the
    * watermark-final sessionize above).
    *
    * The oracle states that batch join on the millisecond grid
    * (`Td.tsMs` convention shared with the sessionize gates). */
  val streamJoin = Q(
    "q_stream_join",
    Some(
      // user_id % 5 subsample: the join-state contract is per-user;
      // the gate measures the streaming join machinery, not volume.
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms " +
        "FROM events WHERE user_id % 5 = 0), " +
        "v AS (SELECT user_id, event_id AS view_id, ms AS view_ms FROM e " +
        "WHERE event_id % 2 = 0), " +
        "c AS (SELECT user_id, event_id AS click_id, ms AS click_ms FROM e " +
        "WHERE event_id % 2 = 1) " +
        "SELECT v.user_id, view_id, click_id, view_ms, click_ms " +
        "FROM v JOIN c ON v.user_id = c.user_id " +
        "AND c.click_ms >= v.view_ms AND c.click_ms <= v.view_ms + 600000 " +
        "ORDER BY 1, 2, 3"),
    // Default (HDFS-backed) state store: the join gates prove the
    // watermark/state-eviction CONTRACT, which is store-independent;
    // RocksDB coverage stays on the sessionize/dedup gates, and the
    // two-sided join would otherwise open 2 stores x partitions of
    // RocksDB per micro-batch - measured 1.6x the whole gate's cost.
    (s, dir) => {
      def evFrame = {
        val ev0 = Td(s, dir, "events").filter(col("user_id") % 5 === 0)
        ev0.select(col("user_id"), col("event_id"),
          timestamp_millis(Td.tsMs(ev0)).as("ts"))
      }
      // Two ascending halves: state must survive a batch boundary
      // (views from slice 0 match clicks arriving in slice 1), which
      // one more slice would not prove any harder — and each extra
      // slice costs a full two-source micro-batch of machinery.
      val feed = FeedCache(
        s"stream_join:$dir:mod=5:cuts=halves-by-time") { feedDir =>
        val ev = evFrame
        val mm = ev.agg(unix_millis(min(col("ts"))), unix_millis(max(col("ts"))))
          .head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val cut1 = lo + (hi - lo) / 2
        val ms = unix_millis(col("ts"))
        writeSlice(ev.filter(ms < cut1), feedDir, 0)
        writeSlice(ev.filter(ms >= cut1), feedDir, 1)
      }
      withShufflePartitions(s, replayPartitions(s, feed)) {
      val schema = evFrame.schema
      def src() = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(feed)
      val views = src().filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
        .withWatermark("view_ts", "10 minutes")
      val clicks = src().filter(col("event_id") % 2 === 1)
        .select(col("user_id").as("c_user_id"),
          col("event_id").as("click_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val joined = views.join(clicks,
        col("user_id") === col("c_user_id") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 10 MINUTES"))
      val name = s"stream_join_${System.nanoTime()}"
      val q = joined.writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      q.awaitTermination()
      s.table(name).select(col("user_id"), col("view_id"), col("click_id"),
        unix_millis(col("view_ts")).as("view_ms"),
        unix_millis(col("click_ts")).as("click_ms"))
        .orderBy(col("user_id"), col("view_id"), col("click_id"))
      }
    }
  )

  /** LEFT OUTER stream-stream join — the watermark-held half of the
    * join contract (contrast [[streamJoin]]'s emit-on-match): an
    * unmatched view emits its null-click row only once the watermark
    * proves no future click can land inside [view_ts, view_ts+10min],
    * so this gate exercises exactly the state-eviction path that keeps
    * outer joins bounded on an unbounded stream. Two sentinel slices
    * flush it (the sessionize discipline): each carries a far-future
    * row for BOTH parities — each side's watermark is computed on its
    * own filtered stream, and the global watermark is their MIN, so a
    * single-sided sentinel would hold the flush — under sentinel users
    * (-1 even / -2 odd) outside the real key space; the sentinel view
    * itself stays held (the watermark never passes ITS bound) and the
    * sentinel click can never emit (right-side misses don't emit in a
    * left join). The oracle is the batch LEFT JOIN closed form. */
  val streamJoinOuter = Q(
    "q_stream_join_outer",
    Some(
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms " +
        "FROM events WHERE user_id % 10 = 0), " +
        "v AS (SELECT user_id, event_id AS view_id, ms AS view_ms FROM e " +
        "WHERE event_id % 2 = 0), " +
        "c AS (SELECT user_id, event_id AS click_id, ms AS click_ms FROM e " +
        "WHERE event_id % 2 = 1) " +
        "SELECT v.user_id, view_id, c.click_id, view_ms, c.click_ms " +
        "FROM v LEFT JOIN c ON v.user_id = c.user_id " +
        "AND c.click_ms >= v.view_ms AND c.click_ms <= v.view_ms + 600000 " +
        "ORDER BY 1, 2, 3"),
    // Default state store - see streamJoin's note.
    (s, dir) => {
      import s.implicits._
      def evFrame = {
        val ev0 = Td(s, dir, "events").filter(col("user_id") % 10 === 0)
        ev0.select(col("user_id"), col("event_id"),
          timestamp_millis(Td.tsMs(ev0)).as("ts"))
      }
      // Two ascending halves + two sentinel slices (see streamJoin's
      // slice-count rationale).
      val feed = FeedCache(
        s"stream_join_outer:$dir:mod=10:cuts=halves:sentinels=100d-bothparities") { feedDir =>
        val ev = evFrame
        val mm = ev.agg(unix_millis(min(col("ts"))), unix_millis(max(col("ts"))))
          .head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val cut1 = lo + (hi - lo) / 2
        val ms = unix_millis(col("ts"))
        writeSlice(ev.filter(ms < cut1), feedDir, 0)
        writeSlice(ev.filter(ms >= cut1), feedDir, 1)
        val day = 86400000L
        def sentinel(atMs: Long) = Seq(
          (-1L, -2L, new java.sql.Timestamp(atMs)),  // even id → views
          (-2L, -1L, new java.sql.Timestamp(atMs))   // odd id → clicks
        ).toDF("user_id", "event_id", "ts")
        writeSlice(sentinel(hi + 100 * day), feedDir, 2)
        writeSlice(sentinel(hi + 100 * day + 60000L), feedDir, 3)
      }
      withShufflePartitions(s, replayPartitions(s, feed)) {
      val schema = evFrame.schema
      def src() = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(feed)
      val views = src().filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
        .withWatermark("view_ts", "10 minutes")
      val clicks = src().filter(abs(col("event_id")) % 2 === 1)
        .select(col("user_id").as("c_user_id"),
          col("event_id").as("click_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val joined = views.join(clicks,
        col("user_id") === col("c_user_id") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 10 MINUTES"),
        "left_outer")
      val name = s"stream_join_outer_${System.nanoTime()}"
      val q = joined.writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      q.awaitTermination()
      s.table(name)
        .filter(col("user_id") >= 0) // drop the held-back sentinel space
        .select(col("user_id"), col("view_id"), col("click_id"),
          unix_millis(col("view_ts")).as("view_ms"),
          unix_millis(col("click_ts")).as("click_ms"))
        .orderBy(col("user_id"), col("view_id"), col("click_id"))
      }
    }
  )

  /** Multi-table streaming sync ([[graft.streaming.StreamingSync.start]]):
    * each micro-batch of RAW QUADS is pivoted per registry table and
    * merged in FK topo order — parent `graph.intellectual_entity` (PK
    * merge) before child `graph.schema_license` (entity-key key-clear) —
    * the full streaming analogue of the reference's per-run load
    * (2_database_load.ts:188-223), here once per micro-batch.
    *
    * Three slices with PINNED batch order (the seed must land first —
    * the update waves overwrite its rows): a full seed giving every
    * entity name `N-id` and licenses {L0,L1}, then two disjoint-entity
    * waves (1997–98 orders → `U1-id`/{L2}; 1999+ orders → `U2-id`/
    * {L3,L4}). Because the waves touch disjoint entities, the end state
    * has the closed form the oracle states: the last wave to touch an
    * entity defines BOTH its parent row (PK last-writer-wins) and its
    * complete license set (key-clear replaced the seed's rows). */
  val streamMultisync = Q(
    "q_stream_multisync",
    Some(
      "WITH p AS (SELECT CAST(o_orderkey AS VARCHAR) AS id, " +
        "CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01' THEN 2 " +
        "WHEN o_orderdate >= TIMESTAMP '1997-01-01' THEN 1 ELSE 0 END AS ph " +
        "FROM orders WHERE o_orderkey % 9 = 0), " +
        "n AS (SELECT id, (CASE ph WHEN 0 THEN 'N-' WHEN 1 THEN 'U1-' " +
        "ELSE 'U2-' END) || id AS schema_name, ph FROM p), " +
        "lic AS (SELECT id, 'L0' AS schema_license FROM p WHERE ph = 0 " +
        "UNION ALL SELECT id, 'L1' FROM p WHERE ph = 0 " +
        "UNION ALL SELECT id, 'L2' FROM p WHERE ph = 1 " +
        "UNION ALL SELECT id, 'L3' FROM p WHERE ph = 2 " +
        "UNION ALL SELECT id, 'L4' FROM p WHERE ph = 2) " +
        "SELECT n.id, n.schema_name, l.schema_license " +
        "FROM n JOIN lic l ON l.id = n.id ORDER BY 1, 3"),
    // NOT partition-trimmed: this gate is merge-bound (per-batch
    // bucketed MERGE writes), not state-store-bound — 4 partitions
    // measured slightly SLOWER (7.65 -> 8.22 s) by narrowing the merge.
    (s, dir) => {
      import graft.model.{Ns, Tables}
      val base = java.nio.file.Files.createTempDirectory("graft_stream_multi")
        .toString
      val target = s"$base/tables"
      // deterministic 1/9 subset: the gate proves the COMPOSITION
      // (pivot → topo-ordered PK + key-clear merges per micro-batch),
      // not throughput — the full-volume merge path is q_stream_sync's
      // and q_upsert_*'s job
      val o = Td(s, dir, "orders").filter(col("o_orderkey") % 9 === 0)
      val kg = Ns.KgToPostgres
      // one quad as a struct matching QuadSource.schema
      def q3(subj: org.apache.spark.sql.Column, pred: String,
             ob: org.apache.spark.sql.Column) =
        struct(subj.as("subject"), lit(pred).as("predicate"), ob.as("obj"),
          lit(null).cast("string").as("lang"),
          lit(null).cast("string").as("datatype"),
          lit(null).cast("string").as("graph"))
      // one slice: parent record + `lics` license child records per order
      def slice(rows: DataFrame, prefix: String, lics: Seq[String],
                tag: String): DataFrame = {
        val okS = col("o_orderkey").cast("string")
        val ie = concat(lit("urn:ie/"), okS)
        val parent = Seq(
          q3(ie, Ns.TableName, lit(Tables.intellectualEntity.name)),
          q3(ie, kg + "id", okS),
          q3(ie, kg + "schema_name", concat(lit(prefix), okS)))
        val lic = lics.zipWithIndex.flatMap { case (l, i) =>
          val subj = concat(lit(s"urn:lic/$tag/$i/"), okS)
          Seq(
            q3(subj, Ns.TableName, lit(Tables.schemaLicense.name)),
            q3(subj, kg + "intellectual_entity_id", okS),
            q3(subj, kg + "schema_license", lit(l)))
        }
        rows.select(explode(array(parent ++ lic: _*)).as("t")).select("t.*")
      }
      val feed = FeedCache(
        s"stream_multi:$dir:cuts=9701,9901:fams=L0L1|L2|L3L4") { feedDir =>
        val d = col("o_orderdate")
        val t97 = lit("1997-01-01").cast("timestamp")
        val t99 = lit("1999-01-01").cast("timestamp")
        writeSlice(slice(o, "N-", Seq("L0", "L1"), "s0"), feedDir, 0)
        writeSlice(slice(o.filter(d >= t97 && d < t99), "U1-", Seq("L2"), "s1"),
          feedDir, 1)
        writeSlice(slice(o.filter(d >= t99), "U2-", Seq("L3", "L4"), "s2"),
          feedDir, 2)
      }
      // Initial bucket count derives from feed volume (the target's
      // steady-state size is ~the replayed feed): sf-scale feeds floor
      // at 4 — fewer per-batch file writes on a merge-bound gate —
      // while a 90× feed derives up.
      val q = graft.streaming.StreamingSync.start(
        s.readStream.schema(graft.source.QuadSource.schema)
          .option("maxFilesPerTrigger", 1).parquet(feed),
        Seq(Tables.intellectualEntity, Tables.schemaLicense),
        target, s"$base/ckpt",
        numBuckets = graft.sink.Upsert.bucketsFor(dirBytes(s, feed)))
      q.awaitTermination()
      val parent = s.read.parquet(s"$target/graph_intellectual_entity")
        .select(col("id"), col("schema_name"))
      val lic = s.read.parquet(s"$target/graph_schema_license")
        .select(col("intellectual_entity_id").as("id"), col("schema_license"))
      parent.join(lic, Seq("id")).orderBy(col("id"), col("schema_license"))
    }
  )

  /** Stream-STATIC decontamination — the canonical training-data
    * ingest shape: a live document feed is anti-joined per micro-batch
    * against a fixed historical corpus (here: its content-hash set) so
    * already-held documents never re-enter the corpus. Unlike the
    * stateful gates above this is STATELESS streaming — the static
    * side is a plain DataFrame Spark re-broadcasts/joins per batch, no
    * state store, no watermark — which is exactly why it scales to an
    * unbounded feed: per-batch cost is one anti-join against the
    * static build side, independent of stream history. The feed
    * replays clean docs (batch 0) then two parity slices of leaked
    * copies of corpus docs (batches 1-2, id-shifted +1e6); the
    * memory-sink union must equal the closed-form NOT IN, independent
    * of batch boundaries, because the operator keeps no cross-batch
    * state. */
  val streamDecontaminate = Q(
    "q_stream_decontaminate",
    Some(
      "WITH st AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 3 = 0), " +
        "sm AS (SELECT doc_id, md5(text) AS content_hash FROM documents " +
        "WHERE doc_id % 3 = 1 " +
        "UNION ALL SELECT doc_id + 1000000, md5(text) FROM documents " +
        "WHERE doc_id % 3 = 0) " +
        "SELECT doc_id, content_hash FROM sm " +
        "WHERE content_hash NOT IN (SELECT h FROM st) ORDER BY 1"),
    (s, dir) => {
      def docs = Td(s, dir, "documents")
      val static = docs.filter(col("doc_id") % 3 === 0)
        .select(md5(col("text")).as("content_hash"))
      def streamFrame = docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
      val feed = FeedCache(
        s"stream_decon:$dir:mod=3:leakbase=1000000:parity-split") { feedDir =>
        writeSlice(streamFrame, feedDir, 0)
        val leaked = docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            md5(col("text")).as("content_hash"))
        writeSlice(leaked.filter(col("doc_id") % 2 === 0), feedDir, 1)
        writeSlice(leaked.filter(col("doc_id") % 2 === 1), feedDir, 2)
      }
      withShufflePartitions(s, replayPartitions(s, feed)) {
      val name = s"stream_decon_${System.nanoTime()}"
      val q = s.readStream.schema(streamFrame.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .join(static, Seq("content_hash"), "left_anti")
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      q.awaitTermination()
      s.table(name).select(col("doc_id"), col("content_hash"))
        .orderBy(col("doc_id"))
      }
    }
  )

  /** Ids of `a` having EXACT shingle-Jaccard ≥ `minJ` with ANY row of
    * `b` — the closed-form cross-family collision set the ingest
    * truths subtract (a doc the loop legitimately dropped as a
    * near-dup of the standing corpus can never yield its planted
    * mutation pair). Exact, not LSH: candidates come from a
    * shingle-hash equi-join (J ≥ minJ ⇒ at least one shared shingle),
    * then survivors verify on the full sets — the same
    * count-then-size shape as the DuckDB oracle's `xc` CTE, so both
    * engines state identical truth counts. Both inputs are (doc_id,
    * sh) projections; `sh` arrays are DISTINCT per doc (the
    * ShingleHashesExpr contract), so the exploded equi-join's
    * per-pair match count IS |∩| and J = c/(|a|+|b|−c) exactly — no
    * second array-attach join and no array_intersect pass (the first
    * implementation re-joined both shingle arrays at candidate
    * cardinality; the count form shaved ~2 s/gate at sf0.1). */
  private def exactCrossCollisions(a: DataFrame, b: DataFrame,
                                   minJ: Double): DataFrame = {
    val shared = a.select(col("doc_id").as("id_a"), explode(col("sh")).as("t"))
      .join(b.select(col("doc_id").as("id_b"), explode(col("sh")).as("t")),
        Seq("t"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("c"))
    shared
      .join(a.select(col("doc_id").as("id_a"), size(col("sh")).as("na")), Seq("id_a"))
      .join(b.select(col("doc_id").as("id_b"), size(col("sh")).as("nb")), Seq("id_b"))
      .filter(col("c").cast("double") /
        (col("na") + col("nb") - col("c")) >= minJ)
      .select(col("id_a").as("doc_id")).distinct()
  }

  /** Streaming MinHash INGESTION LOOP — the reference's central
    * semantic axis (incremental sync: a standing corpus absorbs
    * arriving deltas without rescanning itself,
    * reference/README.md:48-50) transplanted to the LLM-corpus story,
    * composing the whole gated B38 lifecycle the way a real pipeline
    * runs it: per micro-batch, quality-filter the arrivals →
    * `minhashDeltaPairs` against the STANDING index (band equi-join,
    * corpus text never rescanned) → drop the near-dups → admit the
    * novel docs via `minhashExtend` — so the NEXT batch dedups against
    * the grown index. Cross-batch correctness that no per-call gate
    * can see: batch 2 carries mutations of batch 1's novel docs, so
    * recall_b2_ok holds only if batch 1's admissions actually entered
    * the index (and the extends' localCheckpoints keep plan depth flat
    * across the chain).
    *
    * Closed-form oracle (the truthSql pattern): both engines count the
    * planted J≥0.5 (doc, mutation) truth per batch family, restricted
    * to docs whose BOTH sides clear the quality gate (the loop filters
    * before pairing, so the truth must too); batch-2 truth further
    * excludes docs with an exact J≥0.5 collision against the standing
    * corpus (the loop drops those at batch 1, so their mutation pair
    * is structurally unrecoverable — see exactCrossCollisions); the
    * loop must recover ≥95% of each. `junk_clean` pins the quality stage itself: batch 1
    * plants punctuation-flooded copies of batch-2 docs (id+9e6; the
    * pad doubles length so punct×5 > length — fails quality, while
    * normalize strips the pad so its shingles equal the original's).
    * A loop that forgot the quality filter would admit the junk and
    * batch 2 would match it at J≈1 → junk_clean flips false; the
    * oracle independently re-checks in SQL that the junk construction
    * fails the shared quality predicate.
    *
    * Scale shape: per-batch cost = sign the batch + two bounded
    * equi-joins against the index + a delta-sized extend; the standing
    * index is touched only through its band buckets. State lives in
    * the index tables (localCheckpoint'd), not a streaming state
    * store — the loop is restart-safe via minhashSave/Load
    * (q_minhash_persist). */
  val streamIngestDedup = Q(
    "q_stream_ingest_dedup",
    Some {
      def qual(e: String): String =
        s"length($e) >= 50 " +
          raw"AND len(regexp_extract_all($e, '[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]')) >= 10 " +
          raw"AND len(regexp_extract_all($e, '[^\w\s]')) * 5 <= length($e)"
      def truthCte(name: String, mod: Int, exclude: Option[String]): String =
        s"$name AS (SELECT doc_id FROM (SELECT doc_id, " +
          s"${TextBattery.shinglesSqlOf("text")} AS sh_o, " +
          s"${TextBattery.shinglesSqlOf("text[12:]")} AS sh_m " +
          s"FROM documents WHERE doc_id % 3 = $mod " +
          s"AND ${qual("text")} AND ${qual("text[12:]")}) " +
          "WHERE CAST(len(list_intersect(sh_o, sh_m)) AS DOUBLE) / " +
          "len(list_distinct(list_concat(sh_o, sh_m))) >= 0.5" +
          exclude.map(x =>
            s" AND doc_id NOT IN (SELECT doc_id FROM $x)").getOrElse("") + ")"
      // Batch-2 truth excludes %3=1 docs carrying an EXACT J≥0.5
      // collision with the quality-passing standing corpus (%3=0): the
      // loop drops such docs at batch 1, so their +2e6 mutation cannot
      // produce the (corpus_id, corpus_id+2e6) pair the recall filter
      // requires — without the exclusion the gate leaned on the 5%
      // slack absorbing data-dependent cross-family collisions (r16
      // advice). Found-at-batch-1 pairs are a SUBSET of this exact set
      // (LSH verify is exact, no false positives), so every truth doc
      // is genuinely recoverable at any corpus or scale.
      def xsCte(name: String, mod: Int): String =
        s"$name AS (SELECT doc_id, ${TextBattery.shinglesSqlOf("text")} AS sh " +
          s"FROM documents WHERE doc_id % 3 = $mod AND ${qual("text")})"
      val xcCte =
        // sh lists are distinct per doc, so the shared count IS |∩|
        // and J = c/(n1+n0−c) — same count-then-size form as
        // exactCrossCollisions.
        "xc AS (SELECT DISTINCT p.id1 AS doc_id FROM " +
          "(SELECT a.doc_id AS id1, b.doc_id AS id0, count(*) AS c " +
          "FROM (SELECT doc_id, unnest(sh) AS t FROM xs1) a " +
          "JOIN (SELECT doc_id, unnest(sh) AS t FROM xs0) b ON a.t = b.t " +
          "GROUP BY 1, 2) p " +
          "JOIN (SELECT doc_id, len(sh) AS n1 FROM xs1) s1 ON s1.doc_id = p.id1 " +
          "JOIN (SELECT doc_id, len(sh) AS n0 FROM xs0) s0 ON s0.doc_id = p.id0 " +
          "WHERE CAST(p.c AS DOUBLE) / (s1.n1 + s0.n0 - p.c) >= 0.5)"
      s"WITH ${truthCte("tr1", 0, None)}, ${xsCte("xs1", 1)}, " +
        s"${xsCte("xs0", 0)}, $xcCte, ${truthCte("tr2", 1, Some("xc"))}, " +
        "junk AS (SELECT count(*) AS n FROM documents WHERE doc_id % 15 = 2 " +
        s"AND ${qual("text || repeat('!', length(text))")}) " +
        "SELECT (SELECT count(*) FROM tr1) AS n_truth_b1, true AS recall_b1_ok, " +
        "(SELECT count(*) FROM tr2) AS n_truth_b2, true AS recall_b2_ok, " +
        "(SELECT n FROM junk) = 0 AS junk_clean"
    },
    (s, dir) => {
      import graft.dedup.Dedup
      import graft.text.{CorpusPrep, TextFunctions}
      def docs = Td(s, dir, "documents").select(col("doc_id"), col("text"))
      def quality(c: org.apache.spark.sql.Column) =
        CorpusPrep.qualityFilter(c, CorpusPrep.Quality())
      def mut(c: org.apache.spark.sql.Column) = substring(c, 12, 1000000)
      val feed = FeedCache(
        s"stream_ingest:$dir:mod=3:mutbases=1e6,2e6:junk=mod15+9e6:pad=len") {
        feedDir =>
          // batch 1: novel docs (%3=1) ∪ mutations of the base corpus
          // (%3=0, +1e6) ∪ punctuation-flooded junk copies of batch-2
          // docs (%15=2, +9e6) that MUST die at the quality stage
          writeSlice(
            docs.filter(col("doc_id") % 3 === 1)
              .unionByName(docs.filter(col("doc_id") % 3 === 0)
                .select((col("doc_id") + 1000000L).as("doc_id"),
                  mut(col("text")).as("text")))
              .unionByName(docs.filter(col("doc_id") % 15 === 2)
                .select((col("doc_id") + 9000000L).as("doc_id"),
                  concat(col("text"),
                    repeat(lit("!"), length(col("text")).cast("int")))
                    .as("text"))),
            feedDir, 0)
          // batch 2: novel docs (%3=2 — the junk probes) ∪ mutations of
          // batch 1's NOVEL docs (%3=1, +2e6) — findable only through
          // the batch-1 extend
          writeSlice(
            docs.filter(col("doc_id") % 3 === 2)
              .unionByName(docs.filter(col("doc_id") % 3 === 1)
                .select((col("doc_id") + 2000000L).as("doc_id"),
                  mut(col("text")).as("text"))),
            feedDir, 1)
      }
      withShufflePartitions(s, replayPartitions(s, feed)) {
        var model = Dedup.minhashBuild(
          docs.filter(col("doc_id") % 3 === 0).filter(quality(col("text"))),
          "doc_id", "text", numHashes = 64, bands = 16, shingleK = 3)
        // Running checkpointed fold (not a driver buffer unioned at the
        // end): each batch's pairs frame is already materialized, so
        // the rolling union stays a flat two-checkpoint plan at ANY
        // batch count — the shape a many-batch deployment needs.
        var found: org.apache.spark.sql.DataFrame = null
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(feed)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            // quality → delta-dedup → admit novel; the batch is read
            // twice (pairing + extend), checkpoint the survivors once
            val b = batch.filter(quality(col("text"))).localCheckpoint()
            val pairs = Dedup.minhashDeltaPairs(model, b, "doc_id", "text",
              minJaccard = 0.5).localCheckpoint()
            val novel = b.join(
              pairs.select(col("delta_id").as("doc_id")).distinct(),
              Seq("doc_id"), "left_anti")
            // The rolling-found fold and the index extend both read
            // only the materialized pairs/batch — submit them
            // concurrently (guide §2.6) instead of serializing the
            // per-batch job chain.
            val (f2, m2) = graft.run.Par.join2(
              () => if (found == null) pairs
                else found.unionByName(pairs).localCheckpoint(),
              () => Dedup.minhashExtend(model, novel, "doc_id", "text"))
            found = f2
            model = m2
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // Planted truth, quality-restricted on BOTH sides (the loop
        // filters before pairing, so the truth must too) — Spark's
        // independent count of the same closed form the oracle states.
        def truthIds(mod: Int) = {
          def sh(c: org.apache.spark.sql.Column) =
            graft.functions.ShingleHashesExpr(TextFunctions.normalize(c), 3)
          docs.filter(col("doc_id") % 3 === mod)
            .filter(quality(col("text")) && quality(mut(col("text"))))
            .select(col("doc_id"), sh(col("text")).as("sh_o"),
              sh(mut(col("text"))).as("sh_m"))
            .filter(size(array_intersect(col("sh_o"), col("sh_m"))).cast("double") /
              size(array_union(col("sh_o"), col("sh_m"))) >= 0.5)
            .select(col("doc_id"))
        }
        def recallRow(truth: org.apache.spark.sql.DataFrame,
                      foundIds: org.apache.spark.sql.DataFrame,
                      prefix: String) =
          truth.join(foundIds.withColumn("f", lit(1)).distinct(),
            Seq("doc_id"), "left")
            .agg(count(lit(1)).as(s"n_truth_$prefix"),
              (count(col("f")) >= count(lit(1)) * 0.95)
                .as(s"recall_${prefix}_ok"))
        val r1 = recallRow(truthIds(0),
          found.filter(col("corpus_id") % 3 === 0 &&
            col("corpus_id") < 1000000L &&
            col("delta_id") === col("corpus_id") + 1000000L)
            .select(col("corpus_id").as("doc_id")), "b1")
        // Exclude %3=1 docs the loop legitimately dropped at batch 1
        // (exact cross-family collision with the standing corpus —
        // see exactCrossCollisions; mirrors the oracle's xc CTE).
        def shSet(mod: Int) =
          docs.filter(col("doc_id") % 3 === mod)
            .filter(quality(col("text")))
            .select(col("doc_id"),
              graft.functions.ShingleHashesExpr(
                TextFunctions.normalize(col("text")), 3).as("sh"))
        val xc = exactCrossCollisions(shSet(1), shSet(0), 0.5)
        val r2 = recallRow(truthIds(1).join(xc, Seq("doc_id"), "left_anti"),
          found.filter(col("corpus_id") % 3 === 1 &&
            col("corpus_id") < 1000000L &&
            col("delta_id") === col("corpus_id") + 2000000L)
            .select(col("corpus_id").as("doc_id")), "b2")
        val junk = found.agg(
          (count(when(col("corpus_id") >= 9000000L, lit(1))) === 0)
            .as("junk_clean"))
        r1.crossJoin(r2).crossJoin(junk)
      }
    }
  )

  /** Ingestion loop WITH the rebuild consumed — closes the B38/B36
    * lifecycle: [[streamIngestDedup]] proved build → delta → extend
    * across batches; this gate proves the `needsRebuild` trigger
    * (produced since r16 on all three index models) actually FIRES
    * mid-stream and that dedup decisions are invariant across the
    * rebuild.
    *
    * Scenario: the standing index is built over a QUARTER of the
    * corpus (%4=0); batch 1 delivers twice that volume (%4 ∈ {1,2}),
    * so after its extend `extendedN > builtN` flips `needsRebuild` and
    * the loop runs a fresh `minhashBuild` over the accumulated
    * admitted corpus — the operational story: state lives in a stored
    * corpus table, the rebuild is a batch job over it, the loop swaps
    * the model between micro-batches. Batch 2 then carries mutations
    * of BOTH populations (build corpus +1e6, batch-1 admissions +2e6):
    * recall of each family holds only if the REBUILT index contains
    * both the original build corpus and the batch-1 admissions.
    *
    * Decision invariance (spec-pinned in DedupSpec too, gated here on
    * real streaming data): an extend-only twin of the model processes
    * the same batches without ever rebuilding, and every post-rebuild
    * batch must produce IDENTICAL delta pairs (ids and jaccard) under
    * both models — MinHash signatures are deterministic functions of
    * (text, geometry), so build-over-union and extend-by-parts hold
    * the same logical index content. The oracle pins `n_rebuilds = 1`
    * as a closed form: batch-1 admissions ≈ 2× the build corpus
    * guarantee the flip, while batch-2 admissions (mutations that
    * dodged their original, a strict subset of one corpus slice) can
    * never exceed the post-rebuild baseline of ~3 slices.
    *
    * Batch-1-family truth subtracts exact cross-collisions with the
    * standing corpus, same closed form as [[streamIngestDedup]]'s
    * batch-2 truth (a doc dropped at batch 1 cannot yield its
    * mutation pair). */
  val streamIngestRebuild = Q(
    "q_stream_ingest_rebuild",
    Some {
      def qual(e: String): String =
        s"length($e) >= 50 " +
          raw"AND len(regexp_extract_all($e, '[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]')) >= 10 " +
          raw"AND len(regexp_extract_all($e, '[^\w\s]')) * 5 <= length($e)"
      def truthCte(name: String, mod: Int, exclude: Option[String]): String =
        s"$name AS (SELECT doc_id FROM (SELECT doc_id, " +
          s"${TextBattery.shinglesSqlOf("text")} AS sh_o, " +
          s"${TextBattery.shinglesSqlOf("text[12:]")} AS sh_m " +
          s"FROM documents WHERE doc_id % 4 = $mod " +
          s"AND ${qual("text")} AND ${qual("text[12:]")}) " +
          "WHERE CAST(len(list_intersect(sh_o, sh_m)) AS DOUBLE) / " +
          "len(list_distinct(list_concat(sh_o, sh_m))) >= 0.5" +
          exclude.map(x =>
            s" AND doc_id NOT IN (SELECT doc_id FROM $x)").getOrElse("") + ")"
      def xsCte(name: String, mod: Int): String =
        s"$name AS (SELECT doc_id, ${TextBattery.shinglesSqlOf("text")} AS sh " +
          s"FROM documents WHERE doc_id % 4 = $mod AND ${qual("text")})"
      val xcCte =
        // sh lists are distinct per doc, so the shared count IS |∩|
        // and J = c/(n1+n0−c) — same count-then-size form as
        // exactCrossCollisions.
        "xc AS (SELECT DISTINCT p.id1 AS doc_id FROM " +
          "(SELECT a.doc_id AS id1, b.doc_id AS id0, count(*) AS c " +
          "FROM (SELECT doc_id, unnest(sh) AS t FROM xs1) a " +
          "JOIN (SELECT doc_id, unnest(sh) AS t FROM xs0) b ON a.t = b.t " +
          "GROUP BY 1, 2) p " +
          "JOIN (SELECT doc_id, len(sh) AS n1 FROM xs1) s1 ON s1.doc_id = p.id1 " +
          "JOIN (SELECT doc_id, len(sh) AS n0 FROM xs0) s0 ON s0.doc_id = p.id0 " +
          "WHERE CAST(p.c AS DOUBLE) / (s1.n1 + s0.n0 - p.c) >= 0.5)"
      s"WITH ${truthCte("tr_base", 0, None)}, ${xsCte("xs1", 1)}, " +
        s"${xsCte("xs0", 0)}, $xcCte, ${truthCte("tr1", 1, Some("xc"))} " +
        "SELECT CAST(1 AS BIGINT) AS n_rebuilds, " +
        "(SELECT count(*) FROM tr_base) AS n_truth_base, " +
        "true AS recall_base_ok, " +
        "(SELECT count(*) FROM tr1) AS n_truth_b1, " +
        "true AS recall_b1_ok, true AS decisions_invariant"
    },
    (s, dir) => {
      import graft.dedup.Dedup
      import graft.text.{CorpusPrep, TextFunctions}
      def docs = Td(s, dir, "documents").select(col("doc_id"), col("text"))
      def quality(c: org.apache.spark.sql.Column) =
        CorpusPrep.qualityFilter(c, CorpusPrep.Quality())
      def mut(c: org.apache.spark.sql.Column) = substring(c, 12, 1000000)
      val feed = FeedCache(
        s"stream_ingest_rebuild:$dir:mod=4:b1=1,2:b2=base+1e6,b1+2e6") {
        feedDir =>
          // batch 1: novel docs at 2× the build-corpus volume — the
          // extend that pushes the index past parity
          writeSlice(
            docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2),
            feedDir, 0)
          // batch 2: mutations of the build corpus ∪ mutations of
          // batch-1's %4=1 docs — recall against the REBUILT index
          writeSlice(
            docs.filter(col("doc_id") % 4 === 0)
              .select((col("doc_id") + 1000000L).as("doc_id"),
                mut(col("text")).as("text"))
              .unionByName(docs.filter(col("doc_id") % 4 === 1)
                .select((col("doc_id") + 2000000L).as("doc_id"),
                  mut(col("text")).as("text"))),
            feedDir, 1)
      }
      withShufflePartitions(s, replayPartitions(s, feed)) {
        val base = docs.filter(col("doc_id") % 4 === 0)
          .filter(quality(col("text"))).localCheckpoint()
        // The stored-corpus table a real pipeline rebuilds from:
        // base ∪ every admitted batch, kept flat via checkpointed folds.
        var corpus = base
        var model = Dedup.minhashBuild(base, "doc_id", "text",
          numHashes = 64, bands = 16, shingleK = 3)
        var shadow = model // extend-only twin — never rebuilt
        var rebuilds = 0
        var invariant = true
        var found: org.apache.spark.sql.DataFrame = null
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(feed)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val b = batch.filter(quality(col("text"))).localCheckpoint()
            // The live model's pairing and the shadow twin's pairing
            // read only the materialized batch + their own (already
            // materialized) indexes — submit them concurrently (guide
            // §2.6; same for the dependent action groups below, which
            // previously ran as one serial ~17-job chain per batch).
            val (pairs, spOpt) = graft.run.Par.join2(
              () => Dedup.minhashDeltaPairs(model, b, "doc_id", "text",
                minJaccard = 0.5).localCheckpoint(),
              () => if (rebuilds > 0)
                // post-rebuild: the twin that only extended must decide
                // identically — ids AND jaccard values
                Some(Dedup.minhashDeltaPairs(shadow, b, "doc_id", "text",
                  minJaccard = 0.5).localCheckpoint())
              else None)
            // Invariance check fused to ONE action: the symmetric
            // multiset difference is empty iff both exceptAll sides
            // are empty, which already implies equal counts — the
            // previous count()==count() conjunct was redundant (4
            // driver actions → 1, same boolean).
            val (novel, f2, _) = graft.run.Par.join3(
              () => b.join(
                pairs.select(col("delta_id").as("doc_id")).distinct(),
                Seq("doc_id"), "left_anti").localCheckpoint(),
              () => if (found == null) pairs
                else found.unionByName(pairs).localCheckpoint(),
              () => spOpt.foreach { sp =>
                invariant &&= pairs.exceptAll(sp)
                  .unionByName(sp.exceptAll(pairs)).isEmpty
              })
            found = f2
            val (m2, s2, c2) = graft.run.Par.join3(
              () => Dedup.minhashExtend(model, novel, "doc_id", "text"),
              () => Dedup.minhashExtend(shadow, novel, "doc_id", "text"),
              () => corpus.unionByName(novel).localCheckpoint())
            model = m2
            shadow = s2
            corpus = c2
            if (model.needsRebuild) {
              rebuilds += 1
              model = Dedup.minhashBuild(corpus, "doc_id", "text",
                numHashes = 64, bands = 16, shingleK = 3)
            }
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        def shSet(mod: Int) =
          docs.filter(col("doc_id") % 4 === mod)
            .filter(quality(col("text")))
            .select(col("doc_id"),
              graft.functions.ShingleHashesExpr(
                TextFunctions.normalize(col("text")), 3).as("sh"))
        def truthIds(mod: Int) = {
          def sh(c: org.apache.spark.sql.Column) =
            graft.functions.ShingleHashesExpr(TextFunctions.normalize(c), 3)
          docs.filter(col("doc_id") % 4 === mod)
            .filter(quality(col("text")) && quality(mut(col("text"))))
            .select(col("doc_id"), sh(col("text")).as("sh_o"),
              sh(mut(col("text"))).as("sh_m"))
            .filter(size(array_intersect(col("sh_o"), col("sh_m"))).cast("double") /
              size(array_union(col("sh_o"), col("sh_m"))) >= 0.5)
            .select(col("doc_id"))
        }
        def recallRow(truth: org.apache.spark.sql.DataFrame,
                      foundIds: org.apache.spark.sql.DataFrame,
                      prefix: String) =
          truth.join(foundIds.withColumn("f", lit(1)).distinct(),
            Seq("doc_id"), "left")
            .agg(count(lit(1)).as(s"n_truth_$prefix"),
              (count(col("f")) >= count(lit(1)) * 0.95)
                .as(s"recall_${prefix}_ok"))
        val rBase = recallRow(truthIds(0),
          found.filter(col("corpus_id") % 4 === 0 &&
            col("corpus_id") < 1000000L &&
            col("delta_id") === col("corpus_id") + 1000000L)
            .select(col("corpus_id").as("doc_id")), "base")
        val xc = exactCrossCollisions(shSet(1), shSet(0), 0.5)
        val rB1 = recallRow(truthIds(1).join(xc, Seq("doc_id"), "left_anti"),
          found.filter(col("corpus_id") % 4 === 1 &&
            col("corpus_id") < 1000000L &&
            col("delta_id") === col("corpus_id") + 2000000L)
            .select(col("corpus_id").as("doc_id")), "b1")
        val flags = s.range(1).select(
          lit(rebuilds.toLong).as("n_rebuilds"),
          lit(invariant).as("decisions_invariant"))
        flags.crossJoin(rBase).crossJoin(rB1)
          .select(col("n_rebuilds"), col("n_truth_base"),
            col("recall_base_ok"), col("n_truth_b1"),
            col("recall_b1_ok"), col("decisions_invariant"))
      }
    }
  )

  /** Streaming ANN INGESTION LOOP — the IVF sibling of
    * [[streamIngestRebuild]], closing the B36 lifecycle the way that
    * gate closed B38's: per micro-batch, arriving vectors dedup
    * against the standing IVF index (`ivfSearch` top-1, cosine ≥ 0.9 =
    * duplicate), novel vectors are admitted via `ivfExtend`, and when
    * admissions outgrow the build (`needsRebuild`) the loop runs a
    * fresh `ivfBuild` over the accumulated corpus — which, unlike the
    * MinHash rebuild, RE-DERIVES geometry (cells/nprobe from the new
    * n, centroids retrained on the full corpus). Decision invariance
    * across the rebuild is therefore NOT the contract here (the
    * geometry changes by design); the operational contract is that
    * RECALL survives it — batch 2 plants near-dup mutations of BOTH
    * the build corpus (+1e6) and batch-1's admissions (+2e6), and each
    * family's pair is recoverable only if the rebuilt index still
    * carries both populations.
    *
    * Closed forms: the mutation (first coordinate +0.25 on these
    * unit-norm vectors) lands at cosine 0.968–0.979 to its original —
    * 0.07 above the 0.9 dedup threshold — while organic cross-pairs
    * top out near 0.47 (measured sf0.1), so both engines agree on
    * every threshold decision with enormous margin (no float-vs-double
    * boundary risk), batch 1 admits ~2× the build corpus (flips the
    * trigger, `n_rebuilds = 1` exactly), and batch-2 admissions (the
    * few mutations below threshold) can never re-flip it. Batch-1
    * truth subtracts exact cross-collisions vs the standing corpus
    * (brute top-1, the documented bounded broadcast shape) — same
    * rationale as [[streamIngestRebuild]]. */
  val streamIngestAnn = Q(
    "q_stream_ingest_ann",
    Some {
      val mutSql = "list_concat([embedding[1] + 0.25], embedding[2:])"
      s"WITH me0 AS (SELECT vec_id, list_cosine_similarity(embedding, $mutSql) AS c " +
        "FROM embeddings WHERE vec_id % 3 = 0), " +
        s"me1 AS (SELECT vec_id, list_cosine_similarity(embedding, $mutSql) AS c " +
        "FROM embeddings WHERE vec_id % 3 = 1), " +
        "x1 AS (SELECT a.vec_id FROM embeddings a WHERE a.vec_id % 3 = 1 " +
        "AND EXISTS (SELECT 1 FROM embeddings b WHERE b.vec_id % 3 = 0 " +
        "AND list_cosine_similarity(a.embedding, b.embedding) >= 0.9)) " +
        "SELECT CAST(1 AS BIGINT) AS n_rebuilds, " +
        "(SELECT count(*) FROM me0 WHERE c >= 0.9) AS n_truth_base, " +
        "true AS recall_base_ok, " +
        "(SELECT count(*) FROM me1 WHERE c >= 0.9 " +
        "AND vec_id NOT IN (SELECT vec_id FROM x1)) AS n_truth_b1, " +
        "true AS recall_b1_ok"
    },
    (s, dir) => {
      import graft.sim.Similarity
      def emb = Td(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      def mut(c: org.apache.spark.sql.Column) =
        concat(array(c.getItem(0) + lit(0.25f)), slice(c, 2, 1000000))
      val feed = FeedCache(
        s"stream_ingest_ann:$dir:mod=3:b1=1,2:b2=0+1e6,1+2e6:bump=0.25f") {
        feedDir =>
          writeSlice(emb.filter(col("vec_id") % 3 === 1 ||
            col("vec_id") % 3 === 2), feedDir, 0)
          writeSlice(
            emb.filter(col("vec_id") % 3 === 0)
              .select((col("vec_id") + 1000000L).as("vec_id"),
                mut(col("embedding")).as("embedding"))
              .unionByName(emb.filter(col("vec_id") % 3 === 1)
                .select((col("vec_id") + 2000000L).as("vec_id"),
                  mut(col("embedding")).as("embedding"))),
            feedDir, 1)
      }
      withShufflePartitions(s, replayPartitions(s, feed)) {
        val base = emb.filter(col("vec_id") % 3 === 0).localCheckpoint()
        var corpus = base
        var model = Similarity.ivfBuild(base)
        var rebuilds = 0
        var found: org.apache.spark.sql.DataFrame = null
        val q = s.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", 1).parquet(feed)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val b = batch.localCheckpoint()
            val pairs = Similarity.ivfSearch(model, b, topK = 1)
              .filter(col("cos") >= 0.9)
              .select(col("probe_id"), col("neighbor_id")).localCheckpoint()
            // Fold, novel checkpoint, extend and corpus union read
            // only materialized frames — overlap the independent ones
            // (guide §2.6; the extend itself forks its union/count
            // actions internally).
            val (novel, f2) = graft.run.Par.join2(
              () => b.join(
                pairs.select(col("probe_id").as("vec_id")).distinct(),
                Seq("vec_id"), "left_anti").localCheckpoint(),
              () => if (found == null) pairs
                else found.unionByName(pairs).localCheckpoint())
            found = f2
            val (m2, c2) = graft.run.Par.join2(
              () => Similarity.ivfExtend(model, novel),
              () => corpus.unionByName(novel).localCheckpoint())
            model = m2
            corpus = c2
            if (model.needsRebuild) {
              rebuilds += 1
              model = Similarity.ivfBuild(corpus)
            }
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        def truthIds(m: Int) =
          emb.filter(col("vec_id") % 3 === m)
            .filter(Similarity.cosine(col("embedding"),
              mut(col("embedding"))) >= 0.9)
            .select(col("vec_id"))
        val x1 = Similarity.bruteTopK(
          emb.filter(col("vec_id") % 3 === 0),
          emb.filter(col("vec_id") % 3 === 1), k = 1)
          .filter(col("cos") >= 0.9)
          .select(col("probe_id").as("vec_id")).distinct()
        def recallRow(truth: org.apache.spark.sql.DataFrame,
                      foundIds: org.apache.spark.sql.DataFrame,
                      prefix: String) =
          truth.join(foundIds.withColumn("f", lit(1)).distinct(),
            Seq("vec_id"), "left")
            .agg(count(lit(1)).as(s"n_truth_$prefix"),
              (count(col("f")) >= count(lit(1)) * 0.95)
                .as(s"recall_${prefix}_ok"))
        val rBase = recallRow(truthIds(0),
          found.filter(col("neighbor_id") % 3 === 0 &&
            col("neighbor_id") < 1000000L &&
            col("probe_id") === col("neighbor_id") + 1000000L)
            .select(col("neighbor_id").as("vec_id")), "base")
        val rB1 = recallRow(truthIds(1).join(x1, Seq("vec_id"), "left_anti"),
          found.filter(col("neighbor_id") % 3 === 1 &&
            col("neighbor_id") < 1000000L &&
            col("probe_id") === col("neighbor_id") + 2000000L)
            .select(col("neighbor_id").as("vec_id")), "b1")
        s.range(1).select(lit(rebuilds.toLong).as("n_rebuilds"))
          .crossJoin(rBase).crossJoin(rB1)
          .select(col("n_rebuilds"), col("n_truth_base"),
            col("recall_base_ok"), col("n_truth_b1"), col("recall_b1_ok"))
      }
    }
  )

  val all: Seq[Q] = Seq(streamSessionize, streamDedup, streamMultisync,
    streamJoin, streamJoinOuter, streamDecontaminate, streamIngestDedup,
    streamIngestRebuild, streamIngestAnn)
}
