package graft.kv

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One Get/Put/Append operation of the reference's [SPEC] KV store.
  * Semantics (reference `src/models/kv.go:40-54`): state per key is one
  * string; `put` overwrites, `append` concatenates, `get` reads; missing
  * key reads as "". `seq` is the total order (the Raft log index the
  * reference would have assigned).
  */
case class KvOp(seq: Long, key: String, op: String, value: String)

object KvOp {

  /** The store's one state transition, applied to `(op, value)` pairs
    * in seq order: `put` replaces the state, `append` concatenates,
    * `get` leaves it unchanged. Every replay — the batch walk, the
    * in-order stream fold and the event-time stream replay — folds
    * through here. */
  def fold(state: String, ops: IterableOnce[(String, String)]): String = {
    val sb = new StringBuilder(state)
    ops.iterator.foreach { case (op, v) =>
      if (op == "put") { sb.clear(); sb.append(v) }
      else if (op == "append") sb.append(v)
    }
    sb.toString
  }
}

object KvReplay {

  /** Derive a deterministic op log from the driver's `events` table
    * (FIXTURES.md §2): event_id = seq, user_id = key; signup→put,
    * click/purchase→append, view/error→get. Value is the event id
    * rendered as a string (the reference dataflow is all-string).
    */
  def opsFromEvents(events: DataFrame): DataFrame =
    events.select(
      col("event_id").as("seq"),
      col("user_id").cast("string").as("key"),
      when(col("event_type") === "signup", "put")
        .when(col("event_type").isin("click", "purchase"), "append")
        .otherwise("get").as("op"),
      col("event_id").cast("string").as("value"))

  /** Batch replay: final state per key after applying all put/append ops
    * in `seq` order.
    *
    * Scale shape: ONE shuffle (`repartition(key)`) + a per-partition sort
    * on (key, seq) — the classic secondary-sort pattern — then a streaming
    * fold over key runs. Unlike `groupByKey.mapGroups` this never
    * materializes a key's op list; memory per task is O(1) plus the value
    * being built (inherent to append semantics). At 100 TB the sort spills
    * via Spark's external sorter instead of OOMing.
    */
  def replay(ops: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val mutating = ops.filter(col("op") =!= "get")
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("seq"))
      .select(col("key"), col("op"), col("value")).as[(String, String, String)]
    mutating.mapPartitions { it =>
      val rows = it.buffered
      new Iterator[(String, String)] {
        def hasNext: Boolean = rows.hasNext
        def next(): (String, String) = {
          val key = rows.head._1
          val run = new Iterator[(String, String)] {
            def hasNext: Boolean = rows.hasNext && rows.head._1 == key
            def next(): (String, String) = { val r = rows.next(); (r._2, r._3) }
          }
          (key, KvOp.fold("", run))
        }
      }
    }.toDF("key", "value")
  }

  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    replay(opsFromEvents(graft.Tables.events(spark, sfDir)))
  }

  // ------------------- replay across a shard reconfiguration (C6+A8) ---

  /** The two-config history the resharded gate replays across: three
    * groups join, then group 101 leaves — both transitions exercise the
    * controller's minimal-movement rebalance, and the leave forces real
    * shard MIGRATION mid-history. Deterministic constants, rendered
    * identically into the oracle SQL. */
  private[kv] val cfgBefore: Sharding.Config = Sharding.join(
    Sharding.initialConfig,
    Map(100 -> Seq("s100a"), 101 -> Seq("s101a"), 102 -> Seq("s102a")))
  private[kv] val cfgAfter: Sharding.Config =
    Sharding.leave(cfgBefore, Seq(101))

  private def gidOf(cfg: Sharding.Config,
      key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(array(cfg.shards.map(g => lit(g.toLong)): _*),
      (Sharding.key2shard(key) + 1).cast("int"))

  /** The last un-executable [SPEC] behavior rendered as a gated query:
    * replay the op log ACROSS a shard-config change. Epoch-1 ops (up to
    * the seq midpoint) fold under [[cfgBefore]]'s owners, each key's state
    * is HANDED OFF to its owner under [[cfgAfter]] as a `put` at the
    * boundary seq (the state-transfer a shardkv migration ships,
    * the reference's `src/shardkv/client.go:62-122`), and epoch-2 ops fold
    * on top. That is exactly [[snapshotThenReplay]]: under one config a
    * key's group is a function of the key, so folding per (group, key)
    * is folding per key, and the hand-off `put` is the snapshot `put`.
    * State is key-local, so the values must equal the config-free replay
    * — what the DuckDB oracle computes — and the hash gate proves
    * reconfiguration-transparency rather than assuming it. */
  def replayResharded(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    snapshotThenReplay(opsFromEvents(graft.Tables.events(spark, sfDir)))
      .select(col("key"), col("value"),
        Sharding.key2shard(col("key")).as("shard"),
        gidOf(cfgBefore, col("key")).as("gid_before"),
        gidOf(cfgAfter, col("key")).as("gid_after"))
      .withColumn("migrated", col("gid_before") =!= col("gid_after"))
  }

  /** The raft-snapshot data semantics rendered as a gated query
    * (reference snapshots lab: a server discards its log prefix and
    * keeps only the folded state machine; followers resume from
    * InstallSnapshot + the remaining suffix). Here: fold the log prefix
    * up to the seq midpoint into per-key state, re-encode that state as
    * synthetic `put` ops AT the boundary seq (exactly what a snapshot
    * is — state that overwrites whatever came before), and replay
    * snapshot + suffix. Because `put` erases history and `append` only
    * extends it, the result must equal the full-log replay — the DuckDB
    * oracle computes the config-free full replay, so the hash gate
    * proves compaction-transparency rather than assuming it.
    *
    * Scale shape: two secondary-sort folds (one shuffle each) and a
    * broadcast boundary scalar; the snapshot frame is |keys| rows, not
    * |ops| — the whole point of compaction at scale. */
  def replaySnapshotted(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    snapshotThenReplay(opsFromEvents(graft.Tables.events(spark, sfDir)))
  }

  /** The compaction composition over an arbitrary op log — the seam
    * KvReplaySpec drives with hand logs. */
  private[graft] def snapshotThenReplay(ops: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    val mid = ops.agg(expr("(min(seq) + max(seq)) div 2").as("mid"))
    val withMid = ops.crossJoin(broadcast(mid))
    val snapshot = replay(withMid.filter(col("seq") <= col("mid"))
        .select("seq", "key", "op", "value"))
      .crossJoin(broadcast(mid))
      .select(col("mid").as("seq"), col("key"), lit("put").as("op"),
        col("value"))
    val suffix = withMid.filter(col("seq") > col("mid"))
      .select("seq", "key", "op", "value")
    replay(snapshot.unionByName(suffix))
  }

  /** Config-free replay + the shard→group maps as inline constants: the
    * oracle never simulates the migration, so a hash match IS the
    * reconfiguration-transparency proof. */
  lazy val reshardedOracleSql: String = { // lazy: composes oracleSql, declared below
    def gidList(cfg: Sharding.Config): String =
      cfg.shards.map(g => s"${g}::BIGINT").mkString("[", ", ", "]")
    s"""WITH plain AS ($oracleSql),
       |sh AS (SELECT key, value,
       |  CAST(ascii(substr(key, 1, 1)) % ${Sharding.NShards} AS BIGINT) AS shard
       |  FROM plain)
       |SELECT key, value, shard,
       |  (${gidList(cfgBefore)})[CAST(shard AS INT) + 1] AS gid_before,
       |  (${gidList(cfgAfter)})[CAST(shard AS INT) + 1] AS gid_after,
       |  (${gidList(cfgBefore)})[CAST(shard AS INT) + 1]
       |    <> (${gidList(cfgAfter)})[CAST(shard AS INT) + 1] AS migrated
       |FROM sh""".stripMargin
  }

  // ---------------------------------------- point-in-time (MVCC) read ---

  /** Time-travel replay — "what did this key hold at time T": the
    * replay fold restricted to ops at or before the snapshot instant,
    * the read side of MVCC rendered on the op log (the warehouse
    * AS OF semantics; SCD-2 answers it for dimensions, this answers
    * it for the KV state machine). T is the midpoint of the write-op
    * time range — pure integer micros arithmetic on two exact
    * aggregates, deterministic at any SF, chosen so the snapshot
    * differs from the final state (half the history is excluded).
    *
    * Scale shape: identical to [[fromEvents]] (the time filter rides
    * the scan); the bound is a 1-row broadcast attach, and the
    * snapshot instant is emitted so the report is self-describing. */
  def replayAsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .withColumn("tsu", unix_micros(col("ts").cast("timestamp")))
    val bounds = ev
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .agg(expr("(min(tsu) + max(tsu)) div 2").as("t_snap"))
    val opsAt = opsFromEvents(
      ev.crossJoin(broadcast(bounds)).filter(col("tsu") <= col("t_snap")))
    implicit val s: SparkSession = spark
    replay(opsAt)
      .crossJoin(broadcast(bounds))
      .select(col("key"), col("value"), col("t_snap").as("snapshot_us"))
  }

  /** [[oracleSql]]'s fold over the events at or before the snapshot
    * instant: the cut is the only difference. */
  lazy val asOfOracleSql: String =
    s"""WITH b AS (SELECT (CAST(MIN(epoch_us(ts)) AS BIGINT)
       |    + CAST(MAX(epoch_us(ts)) AS BIGINT)) // 2 AS t_snap
       |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
       |cut AS (SELECT events.* FROM events, b WHERE epoch_us(ts) <= b.t_snap),
       |plain AS (${oracleOver("cut")})
       |SELECT key, value, (SELECT t_snap FROM b) AS snapshot_us
       |FROM plain""".stripMargin

  // ------------------------------------------ TTL expiry at snapshot ---

  /** Write TTL in micros: a key whose last write is older than this at
    * snapshot time is expired (24 h — the fixture's key ages run
    * ~0–36 h at sf0.001 and ~0–140 h at sf0.1 with a ~12 h median, so
    * both arms of the flag are populated at every gate SF). */
  val TtlMicros: Long = 24L * 3600 * 1000000L

  /** [[fromEvents]] with cache-style expiry semantics: every write
    * (put or append) refreshes its key's clock, and at snapshot time
    * T_end = max write timestamp in the log, a key is `expired` iff
    * T_end − last_write > TTL — the Redis-shaped lease layered over
    * the reference's Get/Put/Append state machine. The expiry is a
    * FLAG, not a drop: a compaction pass deletes flagged keys, but the
    * replay report keeps them visible (the audit posture — silent
    * deletion is how replay bugs hide).
    *
    * Scale shape: the replay fold unchanged; last-write clocks are one
    * map-side-combinable max per key joined on the replay's own key
    * partitioning; the snapshot clock is a 1-row broadcast. */
  def replayTtl(spark: SparkSession, sfDir: String): DataFrame = {
    val writes = graft.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .select(col("user_id").cast("string").as("key"),
        unix_micros(col("ts").cast("timestamp")).as("tsu"))
    val lastW = writes.groupBy(col("key"))
      .agg(max(col("tsu")).as("last_write_us"))
    val tEnd = writes.agg(max(col("tsu")).as("t_end_us"))
    fromEvents(spark, sfDir)
      .join(lastW, "key")
      .crossJoin(broadcast(tEnd))
      .select(col("key"), col("value"), col("last_write_us"),
        ((col("t_end_us") - col("last_write_us")) > TtlMicros)
          .as("expired"))
  }

  lazy val ttlOracleSql: String =
    s"""WITH plain AS ($oracleSql),
       |mw AS (SELECT CAST(user_id AS VARCHAR) AS key,
       |    CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_write_us
       |  FROM events
       |  WHERE event_type IN ('signup', 'click', 'purchase')
       |  GROUP BY 1),
       |te AS (SELECT MAX(last_write_us) AS t_end_us FROM mw)
       |SELECT p.key, p.value, m.last_write_us,
       |  (t.t_end_us - m.last_write_us) > $TtlMicros AS expired
       |FROM plain p JOIN mw m ON p.key = m.key, te t""".stripMargin

  // ------------------------------- duplicate-request suppression (A8) ---

  /** Retry injection density: every [[DupEvery]]-th mutating op is
    * re-sent later in the log with the same (client, req_id). */
  val DupEvery: Long = 7L

  /** The kvraft duplicate-table semantics rendered as a gated query:
    * clients retry requests (leader changes, timeouts), so the server
    * must apply each (client, req_id) AT MOST ONCE even though the raft
    * log may carry it twice (reference: the lab-3 "duplicate detection"
    * requirement — `Clerk` re-sends with an unchanged request id until
    * one server replies). Here every [[DupEvery]]-th mutating op is
    * re-injected at log position seq + max_seq (a retry always lands
    * after its original), the duplicate table keeps the FIRST arrival
    * per (client=key, req_id), and the fold runs over survivors. The
    * DuckDB oracle computes the duplicate-FREE replay plus an
    * independent count of injected retries — so the hash match PROVES
    * exactly-once application rather than assuming it.
    *
    * Scale shape: the duplicate table is a keyed window (one row kept
    * per (key, req_id)) riding the same key partitioning the fold
    * shuffles on; the retry frame is |ops|/[[DupEvery]]; the boundary
    * scalar is a 1-row broadcast. */
  def replayIdempotent(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    idempotentOf(opsFromEvents(graft.Tables.events(spark, sfDir)))
  }

  /** The retry-inject → dedup → fold composition over an arbitrary op
    * log — the seam KvReplaySpec drives with hand logs. */
  private[graft] def idempotentOf(ops: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxSeq = ops.agg(max(col("seq")).as("max_seq"))
    val mutating = ops.filter(col("op") =!= "get")
    val retries = mutating.filter(col("seq") % DupEvery === 0)
      .crossJoin(broadcast(maxSeq))
      .select((col("seq") + col("max_seq")).as("seq"), col("key"),
        col("op"), col("value"), col("seq").as("req_id"))
    val log = mutating.withColumn("req_id", col("seq"))
      .unionByName(retries)
    val applied = log
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("key"), col("req_id")).orderBy(col("seq"))))
      .filter(col("rn") === 1)
      .select(col("seq"), col("key"), col("op"), col("value"))
    val dups = retries.groupBy(col("key"))
      .agg(count(lit(1)).as("n_dups_dropped"))
    replay(applied)
      .join(dups, Seq("key"), "left")
      .select(col("key"), col("value"),
        coalesce(col("n_dups_dropped"), lit(0L)).as("n_dups_dropped"))
  }

  /** Duplicate-free replay + an independent retry count — the oracle
    * never simulates the duplicate table. */
  lazy val idempotentOracleSql: String =
    s"""WITH plain AS ($oracleSql),
       |d AS (SELECT CAST(user_id AS VARCHAR) AS key,
       |    CAST(COUNT(*) AS BIGINT) AS n_dups_dropped
       |  FROM events
       |  WHERE event_type IN ('signup', 'click', 'purchase')
       |    AND event_id % $DupEvery = 0
       |  GROUP BY 1)
       |SELECT p.key, p.value,
       |  CAST(COALESCE(d.n_dups_dropped, 0) AS BIGINT) AS n_dups_dropped
       |FROM plain p LEFT JOIN d ON p.key = d.key""".stripMargin

  /** DuckDB oracle: last put per key, then appends after it, in seq order.
    * Aggregates skip NULLs, so the CASE projections align exactly with the
    * fold of [[replay]]. */
  val oracleSql: String = oracleOver("events")

  /** The [[oracleSql]] fold over any relation shaped like `events`. */
  private def oracleOver(events: String): String =
    s"""WITH ops AS (
       |  SELECT event_id AS seq, CAST(user_id AS VARCHAR) AS key,
       |    CASE WHEN event_type = 'signup' THEN 'put'
       |         WHEN event_type IN ('click','purchase') THEN 'append'
       |         ELSE 'get' END AS op,
       |    CAST(event_id AS VARCHAR) AS val
       |  FROM $events),
       |w AS (
       |  SELECT key, seq, op, val,
       |    max(CASE WHEN op = 'put' THEN seq END) OVER (PARTITION BY key) AS last_put
       |  FROM ops WHERE op <> 'get')
       |SELECT key,
       |  coalesce(max(CASE WHEN op = 'put' AND seq = last_put THEN val END), '') ||
       |  coalesce(string_agg(CASE WHEN op = 'append' AND (last_put IS NULL OR seq > last_put) THEN val END, '' ORDER BY seq), '')
       |    AS value
       |FROM w GROUP BY key""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kv_replay" -> (fromEvents _),
    "kv_replay_resharded" -> (replayResharded _),
    "kv_replay_snapshot" -> (replaySnapshotted _),
    "kv_replay_ttl" -> (replayTtl _),
    "kv_replay_asof" -> (replayAsOf _),
    "kv_replay_idempotent" -> (replayIdempotent _))

  val oracles: Map[String, String] = Map(
    "kv_replay" -> oracleSql,
    "kv_replay_resharded" -> reshardedOracleSql,
    "kv_replay_snapshot" -> oracleSql,
    "kv_replay_ttl" -> ttlOracleSql,
    "kv_replay_asof" -> asOfOracleSql,
    "kv_replay_idempotent" -> idempotentOracleSql)
}
