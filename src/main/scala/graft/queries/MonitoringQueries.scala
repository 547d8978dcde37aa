package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{LogLines, Tables}
import graft.operators.{AsOf, Monitoring, Sequences}

/** Monitoring-domain coverage (SURVEY §2, m*): the reference's
  * health/replication/keeper semantics over the events stream table.
  * DuckDB `ts` is TIMESTAMP_NS; oracles use CAST(ts AS TIMESTAMP) to
  * match Tables.events' ns→µs floor normalization.
  */
object MonitoringQueries {

  private val tsUs = "epoch_us(CAST(ts AS TIMESTAMP))"

  def keys: Seq[QueryKey] = Seq(
    QueryKey("m1_health_snapshot",
      """SELECT user_id, count(*) AS n_total,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(floor((count(*) - sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)) * 100 / count(*)) AS INT) AS health_pct
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      Monitoring.healthSnapshot(Tables.events(s, dir)).orderBy(col("user_id"))
    },

    QueryKey("m2_replication_lag",
      s"""SELECT user_id,
         |  (SELECT max($tsUs) FROM events) - max($tsUs) AS lag_us,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS queue_size
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      Monitoring.replicationLag(Tables.events(s, dir)).orderBy(col("user_id"))
    },

    QueryKey("m3_parts_metrics",
      """SELECT l_returnflag AS part_group,
        |  floor(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / sum(CAST(round(l_quantity*100) AS BIGINT)) * 100) / 100.0 AS avg_event_size,
        |  floor(sum(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 / 1000000.0 * 100) / 100.0 AS gb_on_disk,
        |  count(*) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Monitoring.partsMetrics(Tables.lineitem(s, dir)).orderBy(col("part_group"))
    },

    QueryKey("m4_bloat_pct",
      """SELECT user_id,
        |  floor(CAST(sum(CASE WHEN event_type = 'error' THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS DOUBLE) * 100.0 / sum(CAST(round(value*100) AS BIGINT)) * 100) / 100.0 AS bloat_pct
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      Monitoring.bloatPct(Tables.events(s, dir)).orderBy(col("user_id"))
    },

    // keeper text parsing round-trip: build srvr/conf-style text from
    // typed fields, parse it back through LogLines (str_to_map +
    // coercion), output typed columns. The oracle computes the expected
    // values directly — so the parse must be lossless to match.
    QueryKey("m5_kv_parse",
      """SELECT event_id, event_id AS recved, user_id AS sent,
        |  true AS enable_logging, event_type AS server_mode, user_id AS node_count
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      // sort the RAW rows first, parse after (r15): with the fixture
      // built below the ORDER BY, the parse ran in the single-task scan
      // stage (single-row-group input) AND twice (range sampling
      // evaluates the child); sorting (event_id, user_id, event_type)
      // first moves the one parse evaluation into the 32-way
      // post-exchange stage and shuffles narrow raw rows instead of
      // parsed strings. Same rows, same order, same values.
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
      // fixtures via codegen'd concat, not format_string (Formatter
      // costs µs/row — see m20)
      val conf = concat(lit("recved="), col("event_id").cast("string"),
        lit("\nsent="), col("user_id").cast("string"), lit("\nenable_logging=true"))
      val srvr = concat(lit("Server Mode: "), col("event_type"),
        lit("\nNode Count: "), col("user_id").cast("string"))
      val withText = ev.withColumn("conf_text", conf).withColumn("srvr_text", srvr)
      val confMap = LogLines.kvMap(col("conf_text"), "=")
      val srvrMap = LogLines.normalizeKeys(LogLines.kvMap(col("srvr_text"), ": "))
      withText.select(
        col("event_id"),
        LogLines.getLong(confMap, "recved").as("recved"),
        LogLines.getLong(confMap, "sent").as("sent"),
        LogLines.getBool(confMap, "enable_logging").as("enable_logging"),
        LogLines.getString(srvrMap, "server_mode").as("server_mode"),
        LogLines.getLong(srvrMap, "node_count").as("node_count")
      ) // ordered by the pre-parse sort above (a trailing orderBy would
        // let EliminateSorts drop the inner one and push the parse back
        // below the exchange)
    },

    // PH_SYSTEM_* syslog payload emission (uploadEvents analog) with
    // remove_empty_keys semantics: the zone field is empty for nodes in
    // zone 0 and is elided from those payloads entirely.
    QueryKey("m6_event_emit",
      """SELECT user_id,
        |  'PH_SYSTEM_DATA_NODE_HEALTH={' ||
        |  concat_ws(',',
        |    '"deviceName":"node-' || user_id || '"',
        |    CASE WHEN user_id % 3 = 0 THEN NULL
        |         ELSE '"zone":"zone-' || (user_id % 3) || '"' END,
        |    '"shard":' || (user_id % 4 + 1),
        |    '"queueSize":' || n_error,
        |    '"healthPct":' || health_pct) || '}' AS payload
        |FROM (
        |  SELECT user_id, CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |    CAST(floor((count(*) - sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)) * 100 / count(*)) AS INT) AS health_pct
        |  FROM events GROUP BY user_id) t
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val health = Monitoring.healthSnapshot(Tables.events(s, dir))
      val zone = when(pmod(col("user_id"), lit(3)) === 0, lit(""))
        .otherwise(concat(lit("zone-"), pmod(col("user_id"), lit(3))))
      health.select(col("user_id"),
        LogLines.phPayloadElide("DATA_NODE_HEALTH",
          "deviceName" -> LogLines.jstr(concat(lit("node-"), col("user_id"))),
          "zone" -> when(zone === "", zone).otherwise(LogLines.jstr(zone)),
          "shard" -> (pmod(col("user_id"), lit(4)) + 1).cast("string"),
          "queueSize" -> col("n_error").cast("string"),
          "healthPct" -> col("health_pct").cast("string")
        ).as("payload")).orderBy(col("user_id"))
    },

    // Sentinel-timestamp suppression (chStats.py:99-103).
    QueryKey("m7_sentinel_null",
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_shipdate = TIMESTAMP '1995-01-02' THEN NULL ELSE l_shipdate END AS ship_ts
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-03-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val sentinel = lit("1995-01-02").cast("timestamp_ntz")
      li.filter(col("l_shipdate") < lit("1995-03-01").cast("timestamp_ntz"))
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_shipdate") === sentinel, lit(null).cast("timestamp_ntz"))
            .otherwise(col("l_shipdate")).as("ship_ts"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    QueryKey("m8_shard_rollup",
      """SELECT r_name AS shard, count(*) AS n_nodes,
        |  CAST(sum(n_replicas) AS BIGINT) AS total_replicas,
        |  max(n_replicas) AS max_node_replicas
        |FROM (
        |  SELECT n_regionkey, n_name, count(*) AS n_replicas
        |  FROM customer, nation WHERE c_nationkey = n_nationkey
        |  GROUP BY n_regionkey, n_name) pn, region
        |WHERE n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY shard""".stripMargin) { (s, dir) =>
      Monitoring.shardRollup(Tables.customer(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir)).orderBy(col("shard"))
    },

    QueryKey("m9_enrich_lookup",
      """SELECT DISTINCT user_id,
        |  coalesce(c_name, 'node-' || user_id) AS device_name
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      Monitoring.enrich(Tables.events(s, dir), Tables.customer(s, dir))
        .select(col("user_id"), col("device_name")).distinct()
        .orderBy(col("user_id"))
    },

    QueryKey("m10_time_buckets",
      s"""SELECT make_timestamp($tsUs - $tsUs % 300000000) AS bucket, event_type,
         |  count(*) AS n,
         |  sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      // cast to NTZ at the output boundary: session is UTC, and the
      // oracle's make_timestamp is timezone-naive
      ev.groupBy(Monitoring.timeBucket(col("ts"), 5).cast("timestamp_ntz").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(Monitoring.cents(col("value"))) / 100.0).as("total_value"))
        .orderBy(col("bucket"), col("event_type"))
    },

    QueryKey("m11_client_stats",
      """SELECT user_id, count(*) AS recved, min(value) AS minlat,
        |  sum(CAST(round(value*100) AS BIGINT)) / 100.0 / count(*) AS avglat,
        |  max(value) AS maxlat
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      Monitoring.clientStats(Tables.events(s, dir)).orderBy(col("user_id"))
    },

    QueryKey("m12_top_talkers",
      """SELECT user_id,
        |  sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS traffic,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id
        |ORDER BY traffic DESC, user_id LIMIT 10""".stripMargin) { (s, dir) =>
      Monitoring.topTalkers(Tables.events(s, dir), 10)
    },

    QueryKey("m13_json_extract",
      """SELECT CAST(props->>'$.k' AS INT) % 10 AS k_bucket, count(*) AS n,
        |  CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      ev.select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(pmod(col("k"), lit(10)).as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("k_bucket"))
    },

    // as-of join: for each error event, the user's most recent prior
    // purchase (time-to-failure) — union + running max, no pairwise join.
    QueryKey("m15_asof_prior",
      s"""WITH e AS (SELECT event_id, user_id, event_type, $tsUs AS ts_us FROM events),
         |p AS (SELECT *,
         |  max(CASE WHEN event_type = 'purchase'
         |      THEN lpad(CAST(ts_us AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 10, '0') END)
         |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
         |  FROM e)
         |SELECT user_id, event_id, ts_us,
         |  CAST(substr(prior, 1, 20) AS BIGINT) AS prior_ts_us,
         |  CAST(substr(prior, 21, 10) AS BIGINT) AS prior_id,
         |  ts_us - CAST(substr(prior, 1, 20) AS BIGINT) AS gap_us
         |FROM p WHERE event_type = 'error' AND prior IS NOT NULL
         |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
      AsOf.asofPrior(ev, "user_id", "event_id", "ts_us",
          isLeft = col("event_type") === "purchase",
          isRight = col("event_type") === "error")
        .orderBy(col("user_id"), col("event_id"))
    },

    // longest consecutive-error run per node (gaps-and-islands).
    QueryKey("m16_error_streaks",
      s"""WITH e AS (SELECT event_id, user_id,
         |    CAST(event_type = 'error' AS INT) AS _is, $tsUs AS ts_us FROM events),
         |g AS (SELECT user_id, _is,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) -
         |    row_number() OVER (PARTITION BY user_id, _is ORDER BY ts_us, event_id) AS grp
         |  FROM e),
         |runs AS (SELECT user_id, grp, count(*) AS len FROM g WHERE _is = 1 GROUP BY user_id, grp)
         |SELECT user_id, max(len) AS max_streak, count(*) AS n_streaks
         |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
      AsOf.longestStreak(ev, "user_id", "event_id", "ts_us",
          col("event_type") === "error")
        .orderBy(col("user_id"))
    },

    // config-drift detection: value dispersion of a parsed config/prop
    // across nodes (getKeeperParams surfaces per-node conf; drift =
    // nodes disagreeing on a parameter).
    QueryKey("m17_conf_drift",
      """SELECT event_type,
        |  CAST(count(DISTINCT CAST(props->>'$.k' AS INT)) AS BIGINT) AS n_distinct_values,
        |  min(CAST(props->>'$.k' AS INT)) AS min_value,
        |  max(CAST(props->>'$.k' AS INT)) AS max_value,
        |  count(DISTINCT CAST(props->>'$.k' AS INT)) > 1 AS drifted
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(countDistinct(col("k")).as("n_distinct_values"),
          min(col("k")).as("min_value"), max(col("k")).as("max_value"))
        .withColumn("drifted", (col("n_distinct_values") > 1).cast("boolean"))
        .orderBy(col("event_type"))
    },

    // JSON event ingestion: serialize typed rows to JSON lines (the
    // ClickHouse FORMAT JSON / redis-config shape the reference consumes)
    // and parse back with an explicit schema — from_json/to_json
    // round-trip, no schema inference at scale.
    QueryKey("m18_json_ingest",
      """SELECT event_type, count(*) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val jsonLines = ev.select(col("event_id"),
        to_json(struct(col("user_id"), col("event_type"), col("value"))).as("line"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_type STRING, value DOUBLE")
      jsonLines
        .select(col("event_id"), from_json(col("line"), schema).as("p"))
        .select(col("event_id"), col("p.user_id").as("user_id"),
          col("p.event_type").as("event_type"), col("p.value").as("value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
          (sum(Monitoring.cents(col("value"))) / 100.0).as("total_value"))
        .orderBy(col("event_type"))
    },

    // metric rate-of-change per node (delta vs previous observation).
    QueryKey("m19_rate_of_change",
      s"""SELECT user_id, event_id, v_cents,
         |  v_cents - lag(v_cents) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS delta_cents
         |FROM (SELECT user_id, event_id, $tsUs AS ts_us,
         |    CAST(round(value*100) AS BIGINT) AS v_cents FROM events) t
         |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("v_cents", Monitoring.cents(col("value")))
        .withColumn("delta_cents", col("v_cents") - lag(col("v_cents"), 1).over(w))
        .select(col("user_id"), col("event_id"), col("v_cents"), col("delta_cents"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // keeper cons-line shape: regex field extraction from connection
    // stat lines — the reference's FULL 14-field set (getKeeperStats,
    // chStats.py:279-294: ip, port, recved, sent, hex sid, enum lop,
    // est, to, hex lzxid, lresp, llat, minlat, avglat, maxlat, plus
    // queued) with the reference's own capture patterns ([::ffff:ip]
    // bracket form, 0x-hex sid/lzxid, lop up to the next comma). The
    // line is synthesized deterministically; the oracle computes every
    // field directly, so each extraction must be lossless to match.
    QueryKey("m20_cons_parse",
      """SELECT event_id,
        |  '192.168.1.' || (user_id % 250) AS client_ip,
        |  30000 + (event_id % 20000) AS port,
        |  event_id % 7 AS queued,
        |  event_id AS recved,
        |  user_id AS sent,
        |  '0x' || printf('%x', 281474976710656 + user_id) AS sid,
        |  CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'PING' WHEN 1 THEN 'GETD'
        |       WHEN 2 THEN 'SETD' ELSE 'CREA' END AS lop,
        |  1598892558000 + event_id AS est,
        |  CAST(30000 AS BIGINT) AS to_ms,
        |  '0x' || printf('%x', event_id * 16 + 10) AS lzxid,
        |  1598892558100 + event_id AS lresp,
        |  event_id % 50 AS llat,
        |  CAST(0 AS BIGINT) AS minlat,
        |  event_id % 5 AS avglat,
        |  event_id % 100 + 5 AS maxlat
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      // line fixture built with codegen'd concat, not format_string —
      // java.util.Formatter costs microseconds per row and dominated
      // the query; lower(hex(x)) is printf("%x") (minimal-width hex)
      def d(c: org.apache.spark.sql.Column) = c.cast("string")
      val line = concat(
        lit(" /[::ffff:192.168.1."), d(pmod(col("user_id"), lit(250))),
        lit("]:"), d(lit(30000) + pmod(col("event_id"), lit(20000))),
        lit("(queued="), d(pmod(col("event_id"), lit(7))),
        lit(",recved="), d(col("event_id")),
        lit(",sent="), d(col("user_id")),
        lit(",sid=0x"), lower(hex(lit(281474976710656L) + col("user_id"))),
        lit(",lop="),
        element_at(array(lit("PING"), lit("GETD"), lit("SETD"), lit("CREA")),
          (pmod(col("event_id"), lit(4)) + 1).cast("int")),
        lit(",est="), d(lit(1598892558000L) + col("event_id")),
        lit(",to=30000"),
        lit(",lzxid=0x"), lower(hex(col("event_id") * 16 + 10)),
        lit(",lresp="), d(lit(1598892558100L) + col("event_id")),
        lit(",llat="), d(pmod(col("event_id"), lit(50))),
        lit(",minlat=0"),
        lit(",avglat="), d(pmod(col("event_id"), lit(5))),
        lit(",maxlat="), d(pmod(col("event_id"), lit(100)) + 5),
        lit(")"))
      // structural parse: 15 fields from ONE str_to_map pass + three
      // substring cuts (was: one regex scan per field — 15× the line
      // traffic for byte-identical output)
      val m = col("_m")
      // sort raw rows first, parse after — see m5 (r15): one exchange,
      // one parse evaluation, 32-way instead of single-task-and-twice
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"))
        .orderBy(col("event_id"))
        .withColumn("_line", line)
        .withColumn("_m", LogLines.consMap(col("_line")))
        .select(col("event_id"),
          LogLines.consIp(col("_line")).as("client_ip"),
          LogLines.consPort(col("_line")).as("port"),
          LogLines.getLong(m, "queued").as("queued"),
          LogLines.getLong(m, "recved").as("recved"),
          LogLines.getLong(m, "sent").as("sent"),
          LogLines.getString(m, "sid").as("sid"),
          LogLines.getString(m, "lop").as("lop"),
          LogLines.getLong(m, "est").as("est"),
          LogLines.getLong(m, "to").as("to_ms"),
          LogLines.getString(m, "lzxid").as("lzxid"),
          LogLines.getLong(m, "lresp").as("lresp"),
          LogLines.getLong(m, "llat").as("llat"),
          LogLines.getLong(m, "minlat").as("minlat"),
          LogLines.getLong(m, "avglat").as("avglat"),
          LogLines.getLong(m, "maxlat").as("maxlat"))
        // ordered by the pre-parse sort — see m5 note
    },

    // heartbeat-gap detection: longest silence per node (max inter-event
    // gap) — the "is this node still reporting" monitoring primitive.
    QueryKey("m21_heartbeat_gaps",
      s"""SELECT user_id, max(gap_us) AS max_gap_us, count(*) AS n_heartbeats,
         |  max(ts_us) - min(ts_us) AS span_us
         |FROM (SELECT user_id, ts_us,
         |    ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
         |  FROM (SELECT user_id, event_id, $tsUs AS ts_us FROM events) a) b
         |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("gap_us")).as("max_gap_us"),
          count(lit(1)).as("n_heartbeats"),
          (max(col("ts_us")) - min(col("ts_us"))).as("span_us"))
        .orderBy(col("user_id"))
    },

    // nested DATA_NODE_HEALTH round-trip: replica stats → node arrays →
    // shard documents (to_json) → parse back (from_json) → flatten to
    // per-replica rows. The oracle computes the flat shape directly, so
    // any loss in the assemble/serialize/parse/flatten chain breaks the
    // hash (chStats.py:82-123 assembly, 405-422 flatten).
    QueryKey("m22_nested_roundtrip",
      s"""SELECT user_id % 4 + 1 AS shard,
         |  'node-' || user_id AS device_name,
         |  '10.0.' || (user_id // 256) || '.' || (user_id % 256) AS device_ip,
         |  event_type AS db_table, count(*) AS queue_size,
         |  max($tsUs) AS last_us,
         |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v_cents
         |FROM events GROUP BY user_id, event_type
         |ORDER BY shard, device_name, db_table""".stripMargin) { (s, dir) =>
      Monitoring.flattenHealthDoc(
          Monitoring.nestedHealthDoc(Tables.events(s, dir)))
        .orderBy(col("shard"), col("device_name"), col("db_table"))
    },

    // absent-node error records: directory nodes with no events emit the
    // reference's error-payload shape (chStats.py:213-221).
    QueryKey("m23_absent_nodes",
      """SELECT c_custkey AS node_id,
        |  'PH_SYSTEM_KEEPER_NODE_HEALTH={"deviceName":"' || c_name ||
        |  '","deviceIp":"10.0.' || (c_custkey // 256) || '.' || (c_custkey % 256) ||
        |  '","error":"No response received"}' AS payload
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
        |ORDER BY node_id""".stripMargin) { (s, dir) =>
      Monitoring.absentNodes(Tables.customer(s, dir), Tables.events(s, dir),
          "c_custkey")
        .select(col("c_custkey").as("node_id"),
          LogLines.phPayload("KEEPER_NODE_HEALTH",
            "deviceName" -> LogLines.jstr(col("c_name")),
            "deviceIp" -> LogLines.jstr(concat(lit("10.0."),
              (col("c_custkey") / 256).cast("long"), lit("."),
              pmod(col("c_custkey"), lit(256)))),
            "error" -> LogLines.jstr(lit("No response received"))
          ).as("payload"))
        .orderBy(col("node_id"))
    },

    // multi-cadence scheduling analog (chStats.py:538-579: 3/5/30-minute
    // jobs off one source): ONE fact scan aggregates to a 1-minute base
    // grain, then three cheap re-aggregations over the tiny base produce
    // every cadence — counts and cents re-sum losslessly because coarser
    // epoch-aligned buckets are unions of 1-minute buckets.
    QueryKey("m24_cadence_rollup",
      s"""SELECT * FROM (
         |  SELECT 3 AS cadence_min, make_timestamp($tsUs - $tsUs % 180000000) AS bucket,
         |    count(*) AS n, sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS total_value
         |  FROM events GROUP BY 2
         |  UNION ALL
         |  SELECT 5, make_timestamp($tsUs - $tsUs % 300000000),
         |    count(*), sum(CAST(round(value*100) AS BIGINT)) / 100.0
         |  FROM events GROUP BY 2
         |  UNION ALL
         |  SELECT 30, make_timestamp($tsUs - $tsUs % 1800000000),
         |    count(*), sum(CAST(round(value*100) AS BIGINT)) / 100.0
         |  FROM events GROUP BY 2) t
         |ORDER BY cadence_min, bucket""".stripMargin) { (s, dir) =>
      val base = Tables.events(s, dir)
        .groupBy(Monitoring.timeBucket(col("ts"), 1).as("b1"))
        .agg(count(lit(1)).as("n"), sum(Monitoring.cents(col("value"))).as("cents"))
      // single pass: each tiny base row fans out to its three cadence
      // buckets, then ONE re-aggregation — a union of three re-aggs
      // would rescan the fact per cadence (branch expr ids defeat
      // exchange reuse)
      base.select(explode(array(Seq(3, 5, 30).map(m => struct(
            lit(m).as("cadence_min"),
            Monitoring.timeBucket(col("b1"), m).cast("timestamp_ntz").as("bucket"))): _*))
          .as("c"), col("n"), col("cents"))
        .groupBy(col("c.cadence_min").as("cadence_min"), col("c.bucket").as("bucket"))
        .agg(sum(col("n")).as("n"), (sum(col("cents")) / 100.0).as("total_value"))
        .orderBy(col("cadence_min"), col("bucket"))
    },

    // severity state-transition alerting: classify each observation
    // (value thresholds → ok/warn/crit), emit a row only when a node's
    // severity CHANGES — the alert stream a monitoring daemon forwards,
    // not the raw metric stream. One lag window per node; output is
    // transition-cardinality (≪ event-cardinality at 100 TB).
    QueryKey("m25_status_alerts",
      s"""SELECT user_id, event_id, ts_us, prev AS prev_severity, severity AS new_severity
         |FROM (
         |  SELECT user_id, event_id, ts_us, severity,
         |    lag(severity) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
         |  FROM (
         |    SELECT user_id, event_id, $tsUs AS ts_us,
         |      CASE WHEN value >= 100.0 THEN 'crit'
         |           WHEN value >= 50.0 THEN 'warn' ELSE 'ok' END AS severity
         |    FROM events) a) b
         |WHERE prev IS NOT NULL AND prev <> severity
         |ORDER BY user_id, ts_us, event_id""".stripMargin) { (s, dir) =>
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val sev = when(col("value") >= 100.0, "crit")
        .when(col("value") >= 50.0, "warn").otherwise("ok")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
          sev.as("severity"))
        .withColumn("prev", lag(col("severity"), 1).over(byUser))
        .filter(col("prev").isNotNull && col("prev") =!= col("severity"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("prev").as("prev_severity"), col("severity").as("new_severity"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },

    // dataset profiling (ANALYZE-style): per-column null count, exact
    // distinct count, min/max — the data-QA snapshot a training
    // pipeline runs before ingest. One base scan for counts/extrema;
    // each exact distinct is its own pre-aggregated column scan (the
    // q10 shape — never an Expand of the fact ×columns); the tiny
    // 1-row aggregates cross-join broadcast and melt to one row per
    // column.
    QueryKey("m26_column_profile",
      """WITH base AS (SELECT count(*) AS n_rows FROM documents)
        |SELECT col_name, n_rows, n_nulls, n_distinct, min_val, max_val FROM (
        |  SELECT 'lang' AS col_name, base.n_rows,
        |    (SELECT CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents) AS n_nulls,
        |    (SELECT count(DISTINCT lang) FROM documents) AS n_distinct,
        |    (SELECT CAST(min(lang) AS VARCHAR) FROM documents) AS min_val,
        |    (SELECT CAST(max(lang) AS VARCHAR) FROM documents) AS max_val
        |  FROM base
        |  UNION ALL
        |  SELECT 'source', base.n_rows,
        |    (SELECT CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents),
        |    (SELECT count(DISTINCT source) FROM documents),
        |    (SELECT CAST(min(source) AS VARCHAR) FROM documents),
        |    (SELECT CAST(max(source) AS VARCHAR) FROM documents)
        |  FROM base
        |  UNION ALL
        |  SELECT 'n_chars', base.n_rows,
        |    (SELECT CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents),
        |    (SELECT count(DISTINCT n_chars) FROM documents),
        |    (SELECT CAST(min(n_chars) AS VARCHAR) FROM documents),
        |    (SELECT CAST(max(n_chars) AS VARCHAR) FROM documents)
        |  FROM base) t
        |ORDER BY col_name""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")
      def mn(c: String) = min(col(c)).cast("string").as(s"min_$c")
      def mx(c: String) = max(col(c)).cast("string").as(s"max_$c")
      val base = docs.agg(count(lit(1)).as("n_rows"),
        nulls("lang"), mn("lang"), mx("lang"),
        nulls("source"), mn("source"), mx("source"),
        nulls("n_chars"), mn("n_chars"), mx("n_chars"))
      // count(col) over the distinct projection, NOT count(*): a NULL in
      // the profiled column is its own distinct row, and the oracle's
      // count(DISTINCT c) excludes NULLs
      def dcount(c: String) = docs.select(col(c)).distinct()
        .agg(count(col(c)).as(s"d_$c"))
      val joined = base
        .crossJoin(broadcast(dcount("lang")))
        .crossJoin(broadcast(dcount("source")))
        .crossJoin(broadcast(dcount("n_chars")))
      def row(c: String) = struct(lit(c).as("col_name"), col("n_rows"),
        col(s"nulls_$c").as("n_nulls"), col(s"d_$c").as("n_distinct"),
        col(s"min_$c").as("min_val"), col(s"max_$c").as("max_val"))
      joined
        .select(explode(array(row("lang"), row("source"), row("n_chars"))).as("p"))
        .select(col("p.*"))
        .orderBy(col("col_name"))
    },

    // incremental rollup maintenance: the production path for keeping a
    // bucketed aggregate current is merging a DELTA aggregate into the
    // existing rollup — never rescanning history. count and scaled-cent
    // sums are decomposable, so re-aggregating (old ∪ delta) partial
    // rows equals the full recompute (which is what the oracle runs) —
    // the merge is what this query proves. The even/odd split stands in
    // for history vs new-arrivals.
    QueryKey("m27_incremental_rollup",
      s"""SELECT make_timestamp($tsUs - $tsUs % 300000000) AS bucket,
         |  count(*) AS n,
         |  sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS total_value
         |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("bucket", Monitoring.timeBucket(col("ts"), 5).cast("timestamp_ntz"))
      def rollup(part: DataFrame) = part.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(Monitoring.cents(col("value"))).as("cents"))
      val history = rollup(ev.filter(pmod(col("event_id"), lit(2)) === 0))
      val delta = rollup(ev.filter(pmod(col("event_id"), lit(2)) === 1))
      history.unionByName(delta)
        .groupBy(col("bucket"))
        .agg(sum(col("n")).as("n"), (sum(col("cents")) / 100.0).as("total_value"))
        .orderBy(col("bucket"))
    },

    // time-grid gap fill + forward fill: each monitored entity gets a
    // dense hour grid over ITS observed span (sequence + explode —
    // map-side, no driver loop), missing hours join as 0-observation
    // rows, and the last seen reading carries forward via
    // last(ignoreNulls) over a per-entity window (high-cardinality
    // partition key: parallelizes per entity, each grid is bounded by
    // the entity's span). Buckets stay integer µs end to end.
    QueryKey("m28_gap_fill",
      s"""WITH e AS (SELECT user_id,
         |    $tsUs - $tsUs % 3600000000 AS b_us, value
         |  FROM events WHERE user_id % 10 = 0),
         |obs AS (SELECT user_id, b_us, CAST(count(*) AS BIGINT) AS n_obs, max(value) AS mv
         |  FROM e GROUP BY 1, 2),
         |span AS (SELECT user_id, min(b_us) AS mn, max(b_us) AS mx FROM obs GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(mn, mx, 3600000000)) AS b_us FROM span)
         |SELECT g.user_id, g.b_us AS bucket_us,
         |  coalesce(o.n_obs, 0) AS n_obs,
         |  last_value(o.mv IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.b_us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
         |FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.b_us = o.b_us
         |ORDER BY g.user_id, bucket_us""".stripMargin) { (s, dir) =>
      val hourUs = 3600L * 1000000L
      val ev = Tables.events(s, dir)
        .filter(pmod(col("user_id"), lit(10)) === 0)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("b_us", col("ts_us") - pmod(col("ts_us"), lit(hourUs)))
      val obs = ev.groupBy(col("user_id"), col("b_us"))
        .agg(count(lit(1)).as("n_obs"), max(col("value")).as("mv"))
      val grid = obs.groupBy(col("user_id"))
        .agg(min(col("b_us")).as("mn"), max(col("b_us")).as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"), lit(hourUs))).as("b_us"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("b_us"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      grid.join(obs, Seq("user_id", "b_us"), "left")
        .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
        .withColumn("ffill_value", last(col("mv"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("b_us").as("bucket_us"),
          col("n_obs"), col("ffill_value"))
        .orderBy(col("user_id"), col("bucket_us"))
    },

    // DECAYED "trending" scores (the half-life counter behind every
    // trending-now panel — recent activity dominates, old mass halves
    // per idle hour; m48 smooths VALUES, this decays COUNTS): per
    // event type, hourly counts fold through s' = (s >> gap) + c — an
    // integer exponential decay where gap is the ELAPSED hours since
    // the type's last activity (idle hours decay without being
    // materialized — never a dense hour grid), then every type
    // fast-forwards to the global latest hour so scores are comparable.
    // Scale shape: one (type, hour) partial-agg shuffle, then the
    // st14/m48 fold template — ONE aggregate() HOF over the type's
    // sorted hour list on aggregate rows (|types|·|hours|, never event
    // rows). Shifts guarded at 63 (the d12 DuckDB 1<<63 overflow trap;
    // Scala shift-wrap lesson). Oracle replays the recurrence as a
    // recursive CTE walk (list_reduce banned).
    QueryKey("m55_decayed_topk",
      // the decay recurrence as a recursive walk rn → rn+1 per type
      // (st14/m48 pattern); // (1 << gap) == shiftright for nonnegative
      // scores, shifts guarded ≤ 62
      s"""WITH RECURSIVE h0 AS (SELECT event_type,
         |    $tsUs // 3600000000 AS hr FROM events),
         |h AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS c
         |  FROM h0 GROUP BY 1, 2),
         |hs AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
         |    ORDER BY hr) AS BIGINT) AS rn FROM h),
         |nh AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours
         |  FROM hs GROUP BY 1),
         |gm AS (SELECT max(hr) AS hmax FROM h),
         |walk(event_type, rn, lh, s) AS (
         |  SELECT event_type, rn, hr, c FROM hs WHERE rn = 1
         |  UNION ALL
         |  SELECT hs.event_type, hs.rn, hs.hr,
         |    CASE WHEN hs.hr - w.lh >= 63 THEN 0
         |      ELSE w.s // (1::BIGINT << CAST(hs.hr - w.lh AS INT)) END + hs.c
         |  FROM walk w JOIN hs ON hs.event_type = w.event_type
         |    AND hs.rn = w.rn + 1),
         |fin AS (SELECT w.event_type, w.lh, w.s FROM walk w
         |  JOIN nh ON nh.event_type = w.event_type AND w.rn = nh.n_hours)
         |SELECT f.event_type, nh.n_hours,
         |  CAST(CASE WHEN gm.hmax - f.lh >= 63 THEN 0
         |    ELSE f.s // (1::BIGINT << CAST(gm.hmax - f.lh AS INT)) END
         |    AS BIGINT) AS score
         |FROM fin f JOIN nh ON nh.event_type = f.event_type CROSS JOIN gm
         |ORDER BY score DESC, f.event_type""".stripMargin) { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("c"))
      val glob = hourly.agg(max(col("hr")).as("hmax"))
      hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          array_sort(collect_list(struct(col("hr"), col("c")))).as("seq"))
        .crossJoin(broadcast(glob))
        .withColumn("state", expr(
          "aggregate(seq, named_struct('lh', CAST(-1 AS BIGINT), 's', CAST(0 AS BIGINT)), " +
          "(acc, x) -> named_struct('lh', x.hr, 's', " +
          "IF(acc.lh < 0, x.c, " +
          "IF(x.hr - acc.lh >= 63, CAST(0 AS BIGINT), " +
          "shiftright(acc.s, CAST(x.hr - acc.lh AS INT))) + x.c)))"))
        .withColumn("score", expr(
          "IF(hmax - state.lh >= 63, CAST(0 AS BIGINT), " +
          "shiftright(state.s, CAST(hmax - state.lh AS INT)))"))
        .select(col("event_type"), col("n_hours"), col("score"))
        .orderBy(col("score").desc, col("event_type"))
    },

    // LATE-ARRIVAL accounting — the watermark-observability op every
    // streaming deployment needs BEFORE choosing a watermark delay (st*
    // keys consume watermarks; this measures what a given delay would
    // drop): arrival time is event time plus a deterministic delivery
    // jitter ((event_id%10)·600 s — the generator's events carry no
    // arrival column, so the jitter IS the modeled network/queue delay),
    // the watermark replays per entity as the running max event time
    // over PRIOR arrivals (rows-frame to -1), and an event is late when
    // its event time trails that max by > 300 s — exactly Structured
    // Streaming's `withWatermark` drop rule, replayed in batch so the
    // dropped mass is measurable. Per-entity window (parallel, never a
    // global sort); per-user report: late count + worst/total lateness.
    QueryKey("m54_late_arrivals",
      s"""WITH e AS (SELECT user_id, event_id, $tsUs AS ts_us FROM events),
         |a AS (SELECT *, ts_us + (event_id % 10) * 600000000 AS arr_us FROM e),
         |w AS (SELECT *, max(ts_us) OVER (PARTITION BY user_id
         |    ORDER BY arr_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM a),
         |l AS (SELECT user_id,
         |    CASE WHEN pm IS NOT NULL AND ts_us + 300000000 < pm
         |      THEN pm - 300000000 - ts_us ELSE 0 END AS late_us
         |  FROM w)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
         |  CAST(max(late_us) AS BIGINT) AS max_late_us,
         |  CAST(sum(late_us) AS BIGINT) AS sum_late_us
         |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("arr_us"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("arr_us",
          col("ts_us") + pmod(col("event_id"), lit(10)) * lit(600000000L))
        .withColumn("pm", max(col("ts_us")).over(w))
        .withColumn("late_us",
          when(col("pm").isNotNull && col("ts_us") + lit(300000000L) < col("pm"),
            col("pm") - lit(300000000L) - col("ts_us")).otherwise(lit(0L)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
          max(col("late_us")).as("max_late_us"),
          sum(col("late_us")).as("sum_late_us"))
        .orderBy(col("user_id"))
    },

    // CDC latest-wins upsert snapshot: events as a changelog keyed by
    // (user_id, event_type); the materialized state is the newest value
    // CORRUPT-RECORD quarantine — the PERMISSIVE-ingest production
    // pattern (a 100-TB feed always carries torn lines; the pipeline
    // must SPLIT them out with accounting, never fail the job and
    // never silently drop): lines are deterministically damaged
    // (event_id%13==0 loses its closing byte — the truncated-write
    // shape), from_json(PERMISSIVE) yields NULL for the unparseable,
    // and one grouped pass accounts both lanes — clean rows with their
    // payload sum, quarantined rows with a count a monitor can alert
    // on. Map-side classify, one partial-agg shuffle of 2 rows.
    QueryKey("m53_corrupt_quarantine",
      // latest-wins replicated with a DuckDB window (arg_max can't take a
      // composite tie-break key); same (ts_us DESC, event_id DESC) order.
      """WITH r AS (SELECT event_id,
        |    CASE WHEN event_id % 13 = 0 THEN substr(props, 1, length(props) - 1)
        |      ELSE props END AS line
        |  FROM events),
        |c AS (SELECT
        |    CASE WHEN json_valid(line) AND json_extract(line, '$.k') IS NOT NULL
        |      THEN 'clean' ELSE 'quarantine' END AS lane,
        |    CASE WHEN json_valid(line)
        |      THEN CAST(json_extract(line, '$.k') AS INT) END AS k
        |  FROM r)
        |SELECT lane, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("props"))
        .withColumn("line", when(pmod(col("event_id"), lit(13)) === 0,
          expr("substring(props, 1, length(props) - 1)")).otherwise(col("props")))
        .withColumn("j", from_json(col("line"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .withColumn("lane",
          when(col("j").isNotNull && col("j.k").isNotNull, "clean")
            .otherwise("quarantine"))
        .groupBy(col("lane"))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("j.k")), lit(0L)).as("sum_k"))
        .orderBy(col("lane"))
    },

    // SCD TYPE-2 dimension assembly from the CDC/event stream — the
    // warehouse-history op m29's latest-wins upsert deliberately
    // discards: every VALUE CHANGE of the tracked attribute opens a
    // version row with a [valid_from, valid_to) interval and a dense
    // version number; the current row carries NULL valid_to. Change
    // detection (lag) and interval/versioning (row_number + lead over
    // the CHANGED rows) share ONE (user_id) hash exchange — the second
    // window re-sorts only the change rows. Total order (ts_us,
    // event_id) makes same-timestamp CDC batches retry-deterministic.
    // Micros longs, not timestamps, cross the oracle (the p11 dtype
    // lesson avoided at the source).
    QueryKey("m52_scd2_history",
      s"""WITH e AS (SELECT user_id, $tsUs AS ts_us, event_id, event_type
         |  FROM events),
         |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id) AS prev FROM e),
         |ch AS (SELECT user_id, ts_us, event_id, event_type FROM c
         |  WHERE prev IS NULL OR prev <> event_type)
         |SELECT user_id, CAST(row_number() OVER w AS INT) AS version,
         |  event_type AS state, ts_us AS valid_from_us,
         |  lead(ts_us) OVER w AS valid_to_us,
         |  (lead(ts_us) OVER w IS NULL) AS is_current
         |FROM ch
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
         |ORDER BY user_id, version""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("version", row_number().over(w).cast("int"))
        .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
        .select(col("user_id"), col("version"),
          col("event_type").as("state"), col("ts_us").as("valid_from_us"),
          col("valid_to_us"), col("valid_to_us").isNull.as("is_current"))
        .orderBy(col("user_id"), col("version"))
    },

    // per key. ONE hash shuffle with map-side partial `max_by` ordered
    // by a (ts, event_id) struct — never a row_number window (which
    // would SORT every key group; at 100 TB the changelog's hot keys
    // make that the skew killer). Tie-break by unique event_id makes
    // the winner retry-deterministic.
    QueryKey("m29_cdc_upsert",
      s"""SELECT user_id, event_type, ts_us AS last_ts_us, value AS last_value, n_versions
         |FROM (
         |  SELECT user_id, event_type, $tsUs AS ts_us, value,
         |    CAST(count(*) OVER (PARTITION BY user_id, event_type) AS BIGINT) AS n_versions,
         |    row_number() OVER (PARTITION BY user_id, event_type
         |      ORDER BY $tsUs DESC, event_id DESC) AS rn
         |  FROM events) t
         |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"), col("event_id"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(
          max_by(struct(col("ts_us"), col("value")),
            struct(col("ts_us"), col("event_id"))).as("last"),
          count(lit(1)).as("n_versions"))
        .select(col("user_id"), col("event_type"),
          col("last.ts_us").as("last_ts_us"), col("last.value").as("last_value"),
          col("n_versions"))
        .orderBy(col("user_id"), col("event_type"))
    },

    // ordered-sequence funnel: users who did view → click → purchase
    // with each step STRICTLY after the previous (first qualifying
    // event per step). Three type-filtered scans (the predicate reaches
    // the parquet scan) each reduced to a tiny per-user aggregate
    // before the next join — no per-user window sort over the fact, no
    // stage ever carries more than one row per funnel-surviving user.
    QueryKey("m30_funnel_conversion",
      s"""WITH e AS (SELECT user_id, event_type, $tsUs AS ts_us FROM events),
         |v AS (SELECT user_id, min(ts_us) AS fv FROM e
         |  WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(fv) AS fv, min(ts_us) AS fc
         |  FROM e JOIN v ON e.user_id = v.user_id
         |  WHERE event_type = 'click' AND ts_us > fv GROUP BY e.user_id)
         |SELECT e.user_id, min(fv) AS first_view_us, min(fc) AS first_click_us,
         |  min(ts_us) AS first_purchase_us
         |FROM e JOIN c ON e.user_id = c.user_id
         |WHERE event_type = 'purchase' AND ts_us > fc
         |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_view_us"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts_us") > col("first_view_us"))
        .groupBy(col("user_id")).agg(min(col("first_view_us")).as("first_view_us"),
          min(col("ts_us")).as("first_click_us"))
      ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts_us") > col("first_click_us"))
        .groupBy(col("user_id")).agg(min(col("first_view_us")).as("first_view_us"),
          min(col("first_click_us")).as("first_click_us"),
          min(col("ts_us")).as("first_purchase_us"))
        .orderBy(col("user_id"))
    },

    // per-entity anomaly detection: events whose value sits more than
    // 3σ from the entity's own mean. Entirely INTEGER: with cents c,
    // n·Σc² − (Σc)² is n²·variance, so the 3σ test is the cross-
    // multiplied (n·c − Σc)² > 9·(n·Σc² − (Σc)²) — no float mean/stddev
    // anywhere, bit-identical on any engine/partitioning. One partial-
    // agg groupBy for the per-entity moments + a co-partitioned join
    // back (a window would SORT every entity's history instead).
    // Long-range bound: |c| ≤ 5·10⁶ here, so Σc² stays < 2⁶³ up to
    // ~10⁹ events/entity; beyond that the moments need decimal sums.
    QueryKey("m31_anomaly_zscore",
      """WITH e AS (SELECT user_id, event_id, value,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c*c) AS BIGINT) AS s2
        |  FROM e GROUP BY user_id)
        |SELECT user_id, event_id, value, n AS n_user_events
        |FROM e JOIN s USING (user_id)
        |WHERE n >= 2 AND (n*c - s1)*(n*c - s1) > 9*(n*s2 - s1*s1)
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      val stats = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
          sum(expr("c * c")).as("s2"))
      ev.join(stats, Seq("user_id"))
        .filter(expr("n >= 2 AND (n*c - s1)*(n*c - s1) > 9*(n*s2 - s1*s1)"))
        .select(col("user_id"), col("event_id"), col("value"),
          col("n").as("n_user_events"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // count-min sketch heavy hitters: a 4×256 integer sketch (four
    // md5-salted bucket rows) estimates any key's frequency in O(1)
    // from O(4·256) memory — REGARDLESS of key cardinality, the
    // bounded-memory structure a 100 TB stream monitor keeps where the
    // exact per-key agg would not fit. Bucket index = first two md5
    // nibbles (engine-portable integer arithmetic, no native hash);
    // emitted next to the exact counts for the top-20 keys so the
    // one-sided error (cms_n ≥ true_n) is visible and oracle-checked.
    // Scale shape: the corpus is aggregated ONCE to exact per-key
    // counts; the ×4 explode and the salted md5 run on that per-key
    // frame (one digest per distinct key and row, not per event), each
    // sketch cell is sum(true_n) over its keys — the same cell as
    // counting every event — read back per key by a window over the
    // (row, bucket) cell, and the estimate is min over the key's four
    // cells. A null key never reaches a cell (the oracle's null bucket
    // joins nothing).
    QueryKey("m32_cms_heavy_hitters",
      """WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
        |r AS (SELECT key, i AS r,
        |    (strpos('0123456789abcdef', substr(md5('cms' || i || '|' || key), 1, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(md5('cms' || i || '|' || key), 2, 1)) - 1) AS b
        |  FROM k, generate_series(0, 3) t(i)),
        |sk AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2),
        |truec AS (SELECT key, CAST(count(*) AS BIGINT) AS true_n FROM k GROUP BY 1),
        |est AS (SELECT key, min(c) AS cms_n
        |  FROM (SELECT DISTINCT key, r, b FROM r) d JOIN sk USING (r, b) GROUP BY key)
        |SELECT key, true_n, cms_n FROM truec JOIN est USING (key)
        |ORDER BY true_n DESC, key LIMIT 20""".stripMargin) { (s, dir) =>
      val trueCounts = Tables.events(s, dir)
        .select(col("user_id").cast("string").as("key"))
        .filter(col("key").isNotNull)
        .groupBy(col("key")).agg(count(lit(1)).as("true_n"))
      val cell = org.apache.spark.sql.expressions.Window.partitionBy(col("r"), col("b"))
      trueCounts.select(col("key"), col("true_n"),
          explode(array((0 until 4).map(i => lit(i)): _*)).as("r"))
        .withColumn("_m", md5(concat(lit("cms"), col("r"), lit("|"), col("key"))))
        .withColumn("b", expr(
          "(instr('0123456789abcdef', substr(_m, 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substr(_m, 2, 1)) - 1)"))
        .withColumn("c", sum(col("true_n")).over(cell))
        .groupBy(col("key"), col("true_n")).agg(min(col("c")).as("cms_n"))
        .orderBy(col("true_n").desc, col("key"))
        .limit(20)
    },

    // retention cohort analysis: users grouped by first-signup week,
    // counted as retained in each later week they purchased. Two
    // filter-pushed scans; the cohort table is one row per user (tiny
    // vs the fact — co-partitioned join); the (user, cohort, week)
    // dedup is a two-phase distinct (map-side partial) so the final
    // cell counts shuffle one row per distinct membership — no windows.
    QueryKey("m33_retention_cohorts",
      s"""WITH e AS (SELECT user_id, event_type, $tsUs AS ts_us FROM events),
         |f AS (SELECT user_id, min(ts_us) // 604800000000 AS cohort_wk
         |  FROM e WHERE event_type = 'signup' GROUP BY 1),
         |a AS (SELECT DISTINCT e.user_id, f.cohort_wk,
         |    e.ts_us // 604800000000 - f.cohort_wk AS wk_off
         |  FROM e JOIN f USING (user_id)
         |  WHERE e.event_type = 'purchase'
         |    AND e.ts_us // 604800000000 >= f.cohort_wk)
         |SELECT cohort_wk, wk_off, CAST(count(*) AS BIGINT) AS n_users
         |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(expr("min(ts_us) div 604800000000").as("cohort_wk"))
      ev.filter(col("event_type") === "purchase")
        .join(cohorts, Seq("user_id"))
        .withColumn("wk_off", expr("ts_us div 604800000000 - cohort_wk"))
        .filter(col("wk_off") >= 0)
        .select(col("user_id"), col("cohort_wk"), col("wk_off")).distinct()
        .groupBy(col("cohort_wk"), col("wk_off"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_wk"), col("wk_off"))
    },

    // state-duration accounting: each event opens a state interval that
    // lasts until the entity's next event; report the share of observed
    // time each entity spent in the 'error' state (integer µs sums, bp
    // truncation). The lead() window partitions by user_id — high
    // cardinality, so interval construction parallelizes per entity —
    // and the duration sums partial-aggregate after it.
    QueryKey("m34_error_uptime",
      s"""SELECT user_id,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN next_us - ts_us ELSE 0 END) AS BIGINT) AS err_us,
         |  CAST(sum(next_us - ts_us) AS BIGINT) AS span_us,
         |  CAST(CAST(sum(CASE WHEN event_type = 'error' THEN next_us - ts_us ELSE 0 END) AS BIGINT)
         |    * 10000 // CAST(sum(next_us - ts_us) AS BIGINT) AS BIGINT) AS err_bp
         |FROM (
         |  SELECT user_id, event_type, $tsUs AS ts_us,
         |    lead($tsUs) OVER (PARTITION BY user_id ORDER BY $tsUs, event_id) AS next_us
         |  FROM events) t
         |WHERE next_us IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("next_us", lead(col("ts_us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "error",
            col("next_us") - col("ts_us")).otherwise(0L)).as("err_us"),
          sum(col("next_us") - col("ts_us")).as("span_us"))
        .withColumn("err_bp", expr("err_us * 10000 div span_us"))
        .orderBy(col("user_id"))
    },

    // token-bucket rate limiter (admission control replay): 5-token
    // cap, 1 token/minute refill, each event spends one — a NON-LINEAR
    // recurrence (the min() cap makes it inexpressible as any window
    // aggregate), so this is the typed-API showcase: groupByKey +
    // flatMapSortedGroups gives a deterministic per-entity ordered
    // scan (Spark sorts each group by (ts, event_id) — no driver
    // collection, entities process in parallel). Integer µs-equivalent
    // token accounting; the oracle replays the identical recurrence as
    // a DuckDB RECURSIVE CTE. Scale shape: one hash shuffle + per-key
    // sort, O(1) state per entity during the scan.
    QueryKey("m42_rate_limiter",
      s"""WITH RECURSIVE seq AS (SELECT user_id, event_id, $tsUs AS ts_us,
         |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY $tsUs, event_id) AS BIGINT) AS rn
         |  FROM events),
         |rec AS (
         |  SELECT user_id, event_id, ts_us, rn,
         |    CAST(1 AS INT) AS admitted, CAST(240000000 AS BIGINT) AS ta
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.user_id, s.event_id, s.ts_us, s.rn,
         |    CAST(CASE WHEN least(300000000, r.ta + (s.ts_us - r.ts_us)) >= 60000000
         |      THEN 1 ELSE 0 END AS INT) AS admitted,
         |    CAST(least(300000000, r.ta + (s.ts_us - r.ts_us)) -
         |      CASE WHEN least(300000000, r.ta + (s.ts_us - r.ts_us)) >= 60000000
         |        THEN 60000000 ELSE 0 END AS BIGINT) AS ta
         |  FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         |SELECT user_id, event_id, ts_us, admitted, ta AS tokens_after
         |FROM rec ORDER BY user_id, ts_us, event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val capUs = 300000000L
      val costUs = 60000000L
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
        .as[(Long, Long, Long)]
      ev.groupByKey(_._1)
        .flatMapSortedGroups($"ts_us", $"event_id") {
          (uid: Long, it: Iterator[(Long, Long, Long)]) =>
            var ta = capUs
            var prevTs = Long.MinValue
            it.map { case (_, eid, ts) =>
              val tb = if (prevTs == Long.MinValue) capUs
                       else math.min(capUs, ta + (ts - prevTs))
              val admitted = tb >= costUs
              ta = if (admitted) tb - costUs else tb
              prevTs = ts
              (uid, eid, ts, if (admitted) 1 else 0, ta)
            }
        }
        .toDF("user_id", "event_id", "ts_us", "admitted", "tokens_after")
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },

    // interval coalescing (gaps-and-islands over time RANGES): each
    // event opens a 5-minute activity interval; overlapping or touching
    // intervals merge into maximal islands per entity — the op behind
    // "total covered time" and outage-window reports, distinct from
    // point-gap detection (m21) and streaks (m16) because intervals
    // EXTEND: an island's end is the running MAX of interval ends, not
    // the last event. Island boundaries: ts > max(end) of everything
    // before → cumulative-sum island ids. Integer µs throughout. Scale
    // shape: two stacked windows on the per-entity key (running max,
    // then running sum — one partition, one sort) + a partial agg.
    QueryKey("m41_interval_coalesce",
      s"""SELECT user_id, island_idx, CAST(min(ts_us) AS BIGINT) AS start_us,
         |  CAST(max(end_us) AS BIGINT) AS end_us, count(*) AS n_events
         |FROM (
         |  SELECT user_id, ts_us, end_us,
         |    CAST(sum(new_island) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island_idx
         |  FROM (
         |    SELECT user_id, event_id, ts_us, end_us,
         |      CASE WHEN pme IS NULL OR ts_us > pme THEN 1 ELSE 0 END AS new_island
         |    FROM (
         |      SELECT user_id, event_id, $tsUs AS ts_us,
         |        $tsUs + 300000000 AS end_us,
         |        max($tsUs + 300000000) OVER (PARTITION BY user_id
         |          ORDER BY $tsUs, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |      FROM events) a) b) c
         |GROUP BY user_id, island_idx ORDER BY user_id, island_idx""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val spanUs = 300L * 1000000L
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
        .withColumn("end_us", col("ts_us") + lit(spanUs))
        .withColumn("prev_max_end",
          max(col("end_us")).over(w.rowsBetween(Long.MinValue, -1)))
        .withColumn("new_island",
          when(col("prev_max_end").isNull || col("ts_us") > col("prev_max_end"), 1L)
            .otherwise(0L))
        .withColumn("island_idx",
          sum(col("new_island")).over(w.rowsBetween(Long.MinValue, 0)))
        .groupBy(col("user_id"), col("island_idx"))
        .agg(min(col("ts_us")).as("start_us"), max(col("end_us")).as("end_us"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("island_idx"))
    },

    // capacity-planning trend forecast: per entity, an OLS line through
    // its daily metric totals, projected 7 days past its last
    // observation. The entire regression is integer arithmetic —
    // ŷ(xf) = (Σy·d1 − num·Σx + num·n·xf) div (n·d1) with
    // num = nΣxy−ΣxΣy, d1 = nΣx²−(Σx)² — so the forecast is
    // bit-identical under any partitioning; only the reported slope
    // takes the one IEEE division. Day indices are RE-BASED per entity
    // (x = day − min_day) to keep every product inside BIGINT; the
    // rebase join is co-keyed on user_id. Flat/degenerate series
    // (d1 = 0, fewer than 3 days) are excluded. Scale shape: daily
    // pre-agg, a tiny per-user min join, one moments agg — all on the
    // high-cardinality entity key, no windows.
    QueryKey("m40_trend_forecast",
      s"""WITH daily AS (SELECT user_id, $tsUs // 86400000000 AS d,
         |    CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |based AS (SELECT user_id, d - min(d) OVER (PARTITION BY user_id) AS x, y
         |  FROM daily),
         |m AS (SELECT user_id, CAST(count(*) AS INT) AS n_days,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(max(x) AS BIGINT) AS mx
         |  FROM based GROUP BY user_id),
         |f AS (SELECT user_id, n_days,
         |    CAST(n_days * sxy - sx * sy AS BIGINT) AS num,
         |    CAST(n_days * sxx - sx * sx AS BIGINT) AS d1,
         |    sx, sy, mx + 7 AS xf
         |  FROM m WHERE n_days >= 3)
         |SELECT user_id, n_days,
         |  CAST(num AS DOUBLE) / CAST(d1 AS DOUBLE) AS slope,
         |  CAST((sy * d1 - num * sx + num * n_days * xf) // (n_days * d1) AS BIGINT) AS forecast_units,
         |  CAST(xf AS INT) AS forecast_x
         |FROM f WHERE d1 > 0
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val daily = Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"),
          expr("CAST(round(value) AS BIGINT)").as("vu"))
        .groupBy(col("user_id"), col("d"))
        .agg(sum(col("vu")).as("y"))
      val base = daily.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
      daily.join(base, Seq("user_id"))
        .withColumn("x", col("d") - col("d0"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("int").as("n_days"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"),
          max(col("x")).as("mx"))
        .filter(col("n_days") >= 3)
        .withColumn("num", expr("n_days * sxy - sx * sy"))
        .withColumn("d1", expr("n_days * sxx - sx * sx"))
        .filter(col("d1") > 0)
        .withColumn("xf", col("mx") + 7)
        .select(col("user_id"), col("n_days"),
          (col("num").cast("double") / col("d1").cast("double")).as("slope"),
          expr("(sy * d1 - num * sx + num * n_days * xf) div (n_days * d1)")
            .as("forecast_units"),
          col("xf").cast("int").as("forecast_x"))
        .orderBy(col("user_id"))
    },

    // seasonal-baseline deviation: each entity's latest reading per
    // hour-of-day against its OWN historical same-hour average — the
    // baseline that separates "9am is always busy" from a real
    // anomaly (m31 flags global outliers; this one is seasonality-
    // aware). ONE groupBy carries all three aggregates: count, integer
    // cents sum, and the latest value via max_by over a (ts, event_id)
    // struct (the m29 shape — no row_number sort); deviation is an
    // integer cross-multiplication (latest·n − Σ)·10⁴ div Σ, so no
    // float mean exists anywhere. Scale: one partial-agg hash shuffle
    // on the high-cardinality (user, hour) key.
    QueryKey("m39_seasonal_baseline",
      s"""SELECT user_id, hod, n_obs, sum_cents, latest_cents,
         |  CAST(CASE WHEN sum_cents > 0
         |    THEN (latest_cents * n_obs - sum_cents) * 10000 // sum_cents
         |    ELSE NULL END AS BIGINT) AS dev_bp
         |FROM (
         |  SELECT user_id, hod, CAST(count(*) OVER pw AS BIGINT) AS n_obs,
         |    CAST(sum(vc) OVER pw AS BIGINT) AS sum_cents,
         |    vc AS latest_cents,
         |    row_number() OVER (PARTITION BY user_id, hod ORDER BY ts_us DESC, event_id DESC) AS rn
         |  FROM (SELECT user_id, event_id, $tsUs AS ts_us,
         |      CAST(round(value * 100) AS BIGINT) AS vc,
         |      CAST(($tsUs // 3600000000) % 24 AS INT) AS hod
         |    FROM events) e
         |  WINDOW pw AS (PARTITION BY user_id, hod)) t
         |WHERE rn = 1 ORDER BY user_id, hod""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
        .withColumn("hod", expr("CAST((ts_us div 3600000000) % 24 AS INT)"))
        .groupBy(col("user_id"), col("hod"))
        .agg(count(lit(1)).as("n_obs"),
          sum(col("vc")).as("sum_cents"),
          max_by(col("vc"), struct(col("ts_us"), col("event_id"))).as("latest_cents"))
        .withColumn("dev_bp", expr(
          // a zero-cents baseline (every reading rounds to 0) has no
          // meaningful deviation — NULL, not a division error; hit at
          // sf0.1 where single tiny readings produce sum_cents = 0
          "CASE WHEN sum_cents > 0 " +
          "THEN (latest_cents * n_obs - sum_cents) * 10000 div sum_cents " +
          "ELSE CAST(NULL AS BIGINT) END"))
        .orderBy(col("user_id"), col("hod"))
    },

    // alert flap detection: entities oscillating in and out of the
    // error state faster than an operator can act. Per entity, count
    // adjacent-event transitions where exactly one side is 'error'
    // (entry or exit); ≥6 flips marks a flapper — the suppression
    // signal an alerting pipeline feeds back into m25's raiser. Scale
    // shape: one lag() window per entity (high-cardinality key) and a
    // partial agg above it; no self-joins, no sessionization state.
    QueryKey("m38_flap_detection",
      s"""SELECT user_id, count(*) AS n_events,
         |  CAST(sum(flip) AS BIGINT) AS n_flips,
         |  CAST(CASE WHEN CAST(sum(flip) AS BIGINT) >= 6 THEN 1 ELSE 0 END AS INT) AS flapping
         |FROM (
         |  SELECT user_id,
         |    CASE WHEN prev_type IS NOT NULL AND
         |      ((event_type = 'error') != (prev_type = 'error')) THEN 1 ELSE 0 END AS flip
         |  FROM (
         |    SELECT user_id, event_type,
         |      lag(event_type) OVER (PARTITION BY user_id ORDER BY $tsUs, event_id) AS prev_type
         |    FROM events) a) b
         |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("flip", expr(
          "CASE WHEN prev_type IS NOT NULL AND " +
          "((event_type = 'error') != (prev_type = 'error')) THEN 1 ELSE 0 END"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          expr("CAST(sum(flip) AS BIGINT)").as("n_flips"))
        .withColumn("flapping", (col("n_flips") >= 6).cast("int"))
        .orderBy(col("user_id"))
    },

    // cross-metric correlation for root-cause triage: per entity, the
    // Pearson r between event volume and metric mass across 10-min
    // buckets. Determinism: ALL moments (Σx Σy Σx² Σy² Σxy) are exact
    // integer sums (order-free under any partitioning); the finish is
    // num/√d1/√d2 on those integers — IEEE-754 requires sqrt, ×, ÷ to
    // be correctly rounded, so the double r is bit-identical in both
    // engines (the same contract the cosine queries rely on). Constant
    // series (d=0) are filtered: r is undefined there, not 0. Scale
    // shape: two chained partial aggs on high-cardinality keys,
    // no windows.
    QueryKey("m37_metric_correlation",
      s"""WITH b AS (SELECT user_id, $tsUs // 600000000 AS bucket,
         |    CAST(count(*) AS BIGINT) AS x,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |m AS (SELECT user_id, CAST(count(*) AS INT) AS n_buckets,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy
         |  FROM b GROUP BY user_id),
         |d AS (SELECT user_id, n_buckets,
         |    CAST(n_buckets * sxy - sx * sy AS BIGINT) AS num,
         |    CAST(n_buckets * sxx - sx * sx AS BIGINT) AS d1,
         |    CAST(n_buckets * syy - sy * sy AS BIGINT) AS d2
         |  FROM m WHERE n_buckets >= 3)
         |SELECT user_id, n_buckets, num,
         |  CAST(num AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE)) / sqrt(CAST(d2 AS DOUBLE)) AS r
         |FROM d WHERE d1 > 0 AND d2 > 0
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
        .groupBy(col("user_id"), expr("ts_us div 600000000").as("bucket"))
        .agg(count(lit(1)).as("x"), sum(col("vc")).as("y"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("int").as("n_buckets"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
          sum(expr("x * y")).as("sxy"))
        .filter(col("n_buckets") >= 3)
        .withColumn("num", expr("n_buckets * sxy - sx * sy"))
        .withColumn("d1", expr("n_buckets * sxx - sx * sx"))
        .withColumn("d2", expr("n_buckets * syy - sy * sy"))
        .filter(col("d1") > 0 && col("d2") > 0)
        .select(col("user_id"), col("n_buckets"), col("num"),
          (col("num").cast("double") / sqrt(col("d1").cast("double"))
            / sqrt(col("d2").cast("double"))).as("r"))
        .orderBy(col("user_id"))
    },

    // time-series linear interpolation: resample each entity's metric
    // onto minute marks BETWEEN consecutive observations (the
    // complement of m28's forward-fill — interpolation, not carry).
    // Integer-exact: values in cents, the interpolated point as ONE
    // truncating division of the weighted sum vc*(t1-t) + v1*(t-t0)
    // (both terms non-negative, so truncation direction can't diverge
    // between engines). Gaps over 2 h are left unfilled — the fan-out
    // per event pair is bounded by gap/60 s, and a monitor should show
    // a hole, not a fabricated line, across a long outage. Scale
    // shape: the pairing lead() windows by user_id (high cardinality —
    // parallelizes per entity); mark generation is a bounded map-side
    // explode; no further shuffle before the output sort.
    QueryKey("m36_linear_interp",
      s"""WITH e AS (SELECT user_id, event_id, $tsUs AS ts_us,
         |    CAST(round(value * 100) AS BIGINT) AS vc
         |  FROM events WHERE user_id % 10 = 1),
         |p AS (SELECT user_id, ts_us, vc,
         |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS t1,
         |    lead(vc) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS v1
         |  FROM e),
         |g AS (SELECT user_id, ts_us, vc, t1, v1, t.m AS mark
         |  FROM (SELECT * FROM p WHERE t1 IS NOT NULL AND t1 - ts_us <= 7200000000) pp,
         |  LATERAL unnest(generate_series((ts_us // 60000000 + 1) * 60000000,
         |    t1 - 1, 60000000)) t(m))
         |SELECT user_id, mark AS mark_us,
         |  CAST((vc * (t1 - mark) + v1 * (mark - ts_us)) // (t1 - ts_us) AS BIGINT) AS interp_cents,
         |  CAST(CAST((vc * (t1 - mark) + v1 * (mark - ts_us)) // (t1 - ts_us) AS BIGINT) AS DOUBLE) / 100.0 AS v_interp
         |FROM g ORDER BY user_id, mark_us""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val minUs = 60L * 1000000L
      Tables.events(s, dir)
        .filter(pmod(col("user_id"), lit(10)) === 1)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
        .withColumn("t1", lead(col("ts_us"), 1).over(w))
        .withColumn("v1", lead(col("vc"), 1).over(w))
        .filter(col("t1").isNotNull && (col("t1") - col("ts_us")) <= lit(7200L * 1000000L))
        .withColumn("mark", explode(expr(
          s"CASE WHEN (ts_us div $minUs + 1) * $minUs <= t1 - 1 " +
          s"THEN sequence((ts_us div $minUs + 1) * $minUs, t1 - 1, $minUs) " +
          "ELSE CAST(array() AS ARRAY<BIGINT>) END")))
        .select(col("user_id"), col("mark").as("mark_us"),
          expr("(vc * (t1 - mark) + v1 * (mark - ts_us)) div (t1 - ts_us)")
            .as("interp_cents"))
        .withColumn("v_interp", col("interp_cents").cast("double") / 100.0)
        .orderBy(col("user_id"), col("mark_us"))
    },

    // HyperLogLog distinct-count sketch: 64 registers, each holding the
    // max leading-zero rank of md5-derived 48-bit tails — O(64) memory
    // at ANY key cardinality, the count-distinct counterpart to m32's
    // count-min (both: the only state a 100 TB monitor can keep hot).
    // All arithmetic is engine-portable integers: register index from
    // the first md5 byte, rank from a regexp leading-zero run, the
    // harmonic mean as Σ 2^(50-M_j) (exact powers of two, no floats),
    // and the raw estimate by one integer division — deliberately NO
    // linear-counting correction, so est/exact/err_bp are reproducible
    // bit-for-bit in both engines. Scale shape: one 64-group partial
    // agg over the stream, a 64→1 fold, and a broadcast of the 1-row
    // exact count for the error column. Null keys are dropped before
    // hashing in both engines, as exact_distinct drops them: a null
    // hash is no register, and a null idx group would count in n_hit
    // but add nothing to the harmonic sum.
    QueryKey("m35_hll_distinct",
      """WITH h AS (SELECT md5('hll|' || CAST(user_id AS VARCHAR)) AS _h FROM events
        |  WHERE user_id IS NOT NULL),
        |rk AS (SELECT
        |    ((strpos('0123456789abcdef', substr(_h, 1, 1)) - 1) * 16 +
        |     (strpos('0123456789abcdef', substr(_h, 2, 1)) - 1)) % 64 AS idx,
        |    CASE WHEN lz >= 12 THEN 49 ELSE lz * 4 +
        |      (CASE WHEN strpos('0123456789abcdef', substr(tail, lz + 1, 1)) - 1 >= 8 THEN 0
        |            WHEN strpos('0123456789abcdef', substr(tail, lz + 1, 1)) - 1 >= 4 THEN 1
        |            WHEN strpos('0123456789abcdef', substr(tail, lz + 1, 1)) - 1 >= 2 THEN 2
        |            ELSE 3 END) + 1 END AS rnk
        |  FROM (SELECT _h, substr(_h, 3, 12) AS tail,
        |      length(regexp_extract(substr(_h, 3, 12), '^0*')) AS lz FROM h) t),
        |regs AS (SELECT idx, max(rnk) AS mreg FROM rk GROUP BY idx),
        |sk AS (SELECT CAST(count(*) AS INT) AS n_hit,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(50 - mreg AS INT)) AS BIGINT) AS s_present
        |  FROM regs),
        |ex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events),
        |est AS (SELECT n_hit, exact_distinct,
        |    2904064 * CAST(1099511627776 AS BIGINT) //
        |      (1000 * ((s_present + (64 - n_hit) * CAST(1125899906842624 AS BIGINT)) // 1024))
        |      AS est_distinct
        |  FROM sk CROSS JOIN ex)
        |SELECT CAST(64 AS INT) AS m, n_hit, CAST(est_distinct AS BIGINT) AS est_distinct,
        |  exact_distinct,
        |  CAST(abs(est_distinct - exact_distinct) * 10000 // exact_distinct AS BIGINT) AS err_bp
        |FROM est""".stripMargin) { (s, dir) =>
      val keys = Tables.events(s, dir).select(col("user_id").cast("string").as("key"))
        .filter(col("key").isNotNull)
      val hashed = graft.functions.HllSketch.withIndexRank(keys, col("key"))
      val regs = hashed.groupBy(col("idx")).agg(max(col("rnk")).as("mreg"))
      val sketch = regs.agg(count(lit(1)).cast("int").as("n_hit"),
        expr("CAST(sum(shiftleft(CAST(1 AS BIGINT), CAST(50 - mreg AS INT))) AS BIGINT)")
          .as("s_present"))
      val exact = keys.agg(countDistinct(col("key")).as("exact_distinct"))
      sketch.crossJoin(broadcast(exact))
        .withColumn("s_total",
          expr("s_present + (64 - n_hit) * CAST(1125899906842624 AS BIGINT)"))
        .withColumn("est_distinct",
          expr("2904064 * CAST(1099511627776 AS BIGINT) div (1000 * (s_total div 1024))"))
        .select(lit(64).as("m"), col("n_hit"), col("est_distinct"), col("exact_distinct"),
          expr("abs(est_distinct - exact_distinct) * 10000 div exact_distinct").as("err_bp"))
    },

    // mergeable QUANTILE sketch — completes the sketch trio (m32
    // count-min = frequency, m35 HLL = distinct, m43 = quantiles): a
    // fixed-grid histogram of 64-cent bins over integer cents, built as
    // PER-DAY partial sketches (the artifact an incremental pipeline
    // stores) and MERGED by plain count addition — associative and
    // commutative, so the merge is exact on any partitioning or day
    // split (the spec proves merge-of-daily == sketch-of-full). The
    // quantile estimate is the upper bound of the first bin whose
    // cumulative count reaches rank ceil(p·n/100) — expressed as the
    // integer guard cum*100 >= n*p — giving a deterministic ≤64-cent
    // overestimate, never under (bounded error asserted vs exact in the
    // spec). Scale shape: corpus-sized work is ONE partial-agg groupBy
    // into ≤768 bins per (type, day); everything after (merge, cumsum
    // window, estimate) runs on the tiny sketch rows. Doubles appear
    // once: the final (bin+1)*64/100.0 division of integers. A null
    // value has no bin and a null type no sketch: both are dropped
    // before binning, in both engines (their null orders differ in the
    // cum-sum window, and the oracle's type join drops a null type).
    QueryKey("m43_quantile_sketch",
      // day-split omitted on purpose: the merge is plain count addition,
      // so merged-by-day == built-on-full by associativity (the property
      // QuantileSketchSpec asserts); the oracle states the merged sketch.
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) // 64 AS bin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY 1),
        |cu AS (SELECT b.event_type, bin, c, n,
        |    CAST(sum(c) OVER (PARTITION BY b.event_type ORDER BY bin) AS BIGINT) AS cum
        |  FROM b JOIN t USING (event_type))
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n, CAST(count(*) AS INT) AS n_bins,
        |  CAST((min(CASE WHEN cum * 100 >= n * 50 THEN bin END) + 1) * 64 AS DOUBLE) / 100.0 AS p50_est,
        |  CAST((min(CASE WHEN cum * 100 >= n * 95 THEN bin END) + 1) * 64 AS DOUBLE) / 100.0 AS p95_est,
        |  CAST((min(CASE WHEN cum * 100 >= n * 99 THEN bin END) + 1) * 64 AS DOUBLE) / 100.0 AS p99_est
        |FROM cu GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT) div 64").as("bin"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val merged = daily.groupBy(col("event_type"), col("bin"))
        .agg(sum(col("c")).as("c"))
      val byType = Window.partitionBy(col("event_type"))
      val cum = merged
        .withColumn("n", sum(col("c")).over(byType))
        .withColumn("cum", sum(col("c"))
          .over(byType.orderBy(col("bin"))))
      def estAt(p: Int): Column =
        ((min(when(col("cum") * 100 >= col("n") * p, col("bin"))) + 1) * 64)
          .cast("double") / 100.0
      cum.groupBy(col("event_type"))
        .agg(max(col("n")).cast("long").as("n"),
          count(lit(1)).cast("int").as("n_bins"),
          estAt(50).as("p50_est"), estAt(95).as("p95_est"), estAt(99).as("p99_est"))
        .orderBy(col("event_type"))
    },

    // IPv4 parse + /24 subnet rollup — the SIEM ingest path the
    // reference's domain (FortiSIEM network telemetry) lives on: IPs
    // arrive as TEXT and every aggregation needs them back as
    // integers. The address is synthesized deterministically from the
    // key (the m6 LogLines contract — so the parse does real work and
    // both engines see identical strings), then split/cast back to
    // octets, rolled up per /24 with host cardinality and error
    // counts. Pure integer + string ops; one partial-agg shuffle on
    // the subnet key. Octet indexing note: Spark getItem is 0-based,
    // DuckDB list extract is 1-based (CLAUDE.md trap) — both sides
    // written against their own convention.
    // CUSUM change-point detection — the classic sequential drift
    // alarm (Page 1954): per event_type, fold 5-min bucket counts with
    // s_i = max(0, s_{i-1} + x_i − thr), alarm and RESET when s crosses
    // h; thr/h derive from the type's own mean rate in exact integer
    // arithmetic. A recursive dependency on the fold's own output — no
    // window frame expresses it — so it rides the st14/m48 template:
    // ONE event_type exchange (array_sort ∘ collect_list), one
    // aggregate() HOF pass on aggregate rows; the oracle is the same
    // recurrence as a recursive CTE (never list_reduce — the DuckDB
    // mis-fold trap).
    QueryKey("m51_cusum_changepoint",
      s"""WITH RECURSIVE c AS (SELECT event_type,
         |    CAST($tsUs // 300000000 AS BIGINT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, CAST(sum(cnt) // count(*) AS BIGINT) AS ref0,
         |    CAST(count(*) AS BIGINT) AS nb FROM c GROUP BY 1),
         |r2 AS (SELECT event_type, nb, ref0 + ref0 // 2 + 1 AS thr,
         |    3 * (ref0 + 1) AS h FROM r),
         |e AS (SELECT event_type, bucket, cnt,
         |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS rn
         |  FROM c),
         |walk(event_type, rn, s, alarms, first_b, maxs) AS (
         |  SELECT event_type, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT) FROM r2
         |  UNION ALL
         |  SELECT w.event_type, e.rn,
         |    CASE WHEN greatest(CAST(0 AS BIGINT), w.s + e.cnt - r2.thr) > r2.h
         |         THEN CAST(0 AS BIGINT)
         |         ELSE greatest(CAST(0 AS BIGINT), w.s + e.cnt - r2.thr) END,
         |    w.alarms + CASE WHEN greatest(CAST(0 AS BIGINT), w.s + e.cnt - r2.thr) > r2.h
         |         THEN 1 ELSE 0 END,
         |    CASE WHEN w.first_b < 0
         |          AND greatest(CAST(0 AS BIGINT), w.s + e.cnt - r2.thr) > r2.h
         |         THEN e.bucket ELSE w.first_b END,
         |    greatest(w.maxs, greatest(CAST(0 AS BIGINT), w.s + e.cnt - r2.thr))
         |  FROM walk w
         |  JOIN e ON e.event_type = w.event_type AND e.rn = w.rn + 1
         |  JOIN r2 ON r2.event_type = w.event_type)
         |SELECT w.event_type, r2.nb AS n_buckets, w.alarms AS n_alarms,
         |  w.first_b AS first_alarm_bucket, w.maxs AS max_cusum
         |FROM walk w JOIN r2 ON r2.event_type = w.event_type
         |WHERE w.rn = r2.nb ORDER BY w.event_type""".stripMargin) { (s, dir) =>
      val counts = Tables.events(s, dir)
        .withColumn("bucket", expr("CAST(unix_micros(ts) div 300000000 AS BIGINT)"))
        .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val ref = counts.groupBy(col("event_type"))
        .agg(expr("sum(cnt) div count(1)").as("ref0"),
          count(lit(1)).as("n_buckets"))
        .withColumn("thr", expr("ref0 + ref0 div 2 + 1"))
        .withColumn("h", expr("3 * (ref0 + 1)"))
      val s2 = "greatest(CAST(0 AS BIGINT), acc.s + x.cnt - thr)"
      counts.groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("bucket"), col("cnt")))).as("seq"))
        .join(broadcast(ref), Seq("event_type"))
        .withColumn("acc", expr(
          s"""aggregate(seq,
             |  struct(CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS alarms,
             |         CAST(-1 AS BIGINT) AS first_b, CAST(0 AS BIGINT) AS maxs),
             |  (acc, x) -> struct(
             |    CASE WHEN $s2 > h THEN CAST(0 AS BIGINT) ELSE $s2 END AS s,
             |    acc.alarms + CASE WHEN $s2 > h THEN 1 ELSE 0 END AS alarms,
             |    CASE WHEN acc.first_b < 0 AND $s2 > h THEN x.bucket
             |         ELSE acc.first_b END AS first_b,
             |    greatest(acc.maxs, $s2) AS maxs))""".stripMargin))
        .select(col("event_type"), col("n_buckets"),
          col("acc.alarms").as("n_alarms"),
          col("acc.first_b").as("first_alarm_bucket"),
          col("acc.maxs").as("max_cusum"))
        .orderBy(col("event_type"))
    },

    // behavioral sequence mining — which event-type TRIGRAMS dominate
    // user timelines (the pattern-discovery sibling of st6's FIXED
    // click→error funnel: this one finds the patterns). Per-user
    // timelines via ONE user_id exchange (array_sort ∘ collect_list,
    // the st14 fold-template shape — never a window sort of the fact);
    // trigrams built by zip-of-slices on the sorted type array (the §6
    // transform-recompute trap does not apply: slices sit outside any
    // lambda); global counts are a second partial agg on exploded
    // grams; top-20 is an ordered limit (TakeOrderedAndProject, no full
    // sort). Within-timeline order is total: (ts_us, event_id).
    QueryKey("m50_seq_trigrams",
      s"""WITH tl AS (SELECT user_id,
         |    list(event_type ORDER BY $tsUs, event_id) AS types
         |  FROM events GROUP BY user_id),
         |tri AS (SELECT unnest(CASE WHEN len(types) >= 3
         |    THEN list_transform(generate_series(1, len(types) - 2),
         |      i -> types[i] || ' ' || types[i+1] || ' ' || types[i+2])
         |    ELSE [] END) AS trigram FROM tl)
         |SELECT trigram, CAST(count(*) AS BIGINT) AS n
         |FROM tri GROUP BY trigram ORDER BY n DESC, trigram LIMIT 20""".stripMargin) { (s, dir) =>
      Sequences.userTypeTrigrams(Tables.events(s, dir))
        .groupBy(col("trigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram"))
        .limit(20)
    },

    QueryKey("m49_subnet_rollup",
      """WITH e AS (SELECT event_type,
        |    '10.' || CAST(user_id % 200 AS VARCHAR) || '.' ||
        |    CAST((user_id // 200) % 250 AS VARCHAR) || '.' ||
        |    CAST(event_id % 254 + 1 AS VARCHAR) AS ip
        |  FROM events),
        |p AS (SELECT event_type, string_split(ip, '.') AS parts FROM e),
        |o AS (SELECT event_type,
        |    CAST(parts[2] AS BIGINT) AS o1, CAST(parts[3] AS BIGINT) AS o2,
        |    CAST(parts[4] AS BIGINT) AS o3
        |  FROM p)
        |SELECT '10.' || CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR)
        |    || '.0/24' AS subnet,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT o3) AS BIGINT) AS n_hosts,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_errors
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val ip = concat_ws(".", lit(10), pmod(col("user_id"), lit(200)),
        pmod(expr("user_id div 200"), lit(250)),
        pmod(col("event_id"), lit(254)) + 1)
      val parts = split(col("ip"), "\\.")
      Tables.events(s, dir)
        .withColumn("ip", ip)
        .withColumn("o1", parts.getItem(1).cast("long"))
        .withColumn("o2", parts.getItem(2).cast("long"))
        .withColumn("o3", parts.getItem(3).cast("long"))
        .withColumn("subnet",
          concat(lit("10."), col("o1"), lit("."), col("o2"), lit(".0/24")))
        .groupBy(col("subnet"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("o3")).as("n_hosts"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
        .orderBy(col("subnet"))
    },

    // EWMA smoothing with α = 1/2 — the monitor's classic trend filter
    // (m31's z-score sibling: that detects outliers, this damps them).
    // Integer-exact and oracle-safe: e_n = (e_{n-1} + c_n) div 2 is
    // pure integer halving — the binary-α analogue of the libm-free
    // stats rule (a float α would compound libm drift cross-engine).
    // Like st14, the recurrence depends on its own output, so the batch
    // form is ONE aggregate() HOF fold over per-user ordered arrays
    // (one user_id shuffle, fold on aggregate rows); the DuckDB oracle
    // walks the same recurrence as a recursive CTE.
    QueryKey("m48_ewma_smooth",
      // recursive CTE, not list_reduce — DuckDB 1.0's list_reduce
      // mis-folds on varying list lengths (st14's repro)
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS BIGINT) AS rn
        |  FROM events),
        |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY user_id),
        |walk(user_id, rn, ew) AS (
        |  SELECT user_id, rn, c FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT w.user_id, e.rn, (w.ew + e.c) // 2
        |  FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
        |SELECT n.user_id, n.n_events, w.ew AS ewma_c
        |FROM walk w JOIN n ON n.user_id = w.user_id AND w.rn = n.n_events
        |ORDER BY n.user_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), Monitoring.cents(col("value")).as("c"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("c"))))
            .as("seq"))
        .withColumn("ewma_c", expr(
          "aggregate(seq, CAST(-4611686018427387904 AS BIGINT), (acc, x) -> " +
          "IF(acc = -4611686018427387904, x.c, (acc + x.c) div 2))"))
        .select(col("user_id"), col("n_events"), col("ewma_c"))
        .orderBy(col("user_id"))
    },

    // DOMAIN-FREE quantile sketch — m43's fixed 64-cent grid assumes a
    // bounded, known value domain; this is the unbounded-domain sibling
    // (the HdrHistogram/DDSketch shape monitoring systems actually
    // ship): LOG-scaled bins with 16 sub-buckets per octave, built from
    // pure integer bit arithmetic — the octave is length(bin(v))-1
    // (integer floor-log2 via the binary-string length, identical in
    // DuckDB; log2() itself is libm and never cross-engine-safe) and
    // the sub-bucket is a 4-bit mantissa shift. Bins grow with the LOG
    // of the domain (~16/octave), so the demonstration metric spreads
    // cents across 24 octaves of per-user unit scale (ns-to-hours
    // mixed-unit reality, ~2^39 max) — a domain where m43's grid would
    // need ~6e9 bins and this sketch uses a few hundred. Estimates are
    // the bin's inclusive max: never under the true quantile, at most
    // 1/16 (6.25%) relative error above — rank selection is the same
    // integer cum-sum guard as m43. Scale shape: the corpus work is ONE
    // partial-agg groupBy(event_type, qbin); no output depends on the
    // day, so the builder bins the full corpus directly (like m43: the
    // per-day partials merge to it exactly by count addition, the
    // property QuantileSketchSpec proves), and the cum-sum window runs
    // on the ≤ |types| × bins sketch rows. A row with a null value or
    // user_id has no v, and a null type no sketch: both engines drop
    // them before binning, as m43 does.
    QueryKey("m47_log_quantile",
      """WITH ev AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) *
        |      (CAST(1 AS BIGINT) << CAST(user_id % 24 AS INT)) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |b AS (SELECT event_type,
        |    CASE WHEN v < 16 THEN v
        |         ELSE 16 * (length(bin(v)) - 1) +
        |              v // (CAST(1 AS BIGINT) << CAST(length(bin(v)) - 5 AS INT)) - 64 END AS qbin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY 1),
        |cu AS (SELECT b.event_type, qbin, c, n,
        |    CAST(sum(c) OVER (PARTITION BY b.event_type ORDER BY qbin) AS BIGINT) AS cum
        |  FROM b JOIN t USING (event_type)),
        |r AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n, CAST(count(*) AS INT) AS n_bins,
        |    min(CASE WHEN cum * 100 >= n * 50 THEN qbin END) AS b50,
        |    min(CASE WHEN cum * 100 >= n * 95 THEN qbin END) AS b95,
        |    min(CASE WHEN cum * 100 >= n * 99 THEN qbin END) AS b99
        |  FROM cu GROUP BY event_type)
        |SELECT event_type, n, n_bins,
        |  CASE WHEN b50 < 16 THEN b50 ELSE (CAST(17 + b50 % 16 AS BIGINT) << CAST(b50 // 16 - 1 AS INT)) - 1 END AS p50_max_cents,
        |  CASE WHEN b95 < 16 THEN b95 ELSE (CAST(17 + b95 % 16 AS BIGINT) << CAST(b95 // 16 - 1 AS INT)) - 1 END AS p95_max_cents,
        |  CASE WHEN b99 < 16 THEN b99 ELSE (CAST(17 + b99 % 16 AS BIGINT) << CAST(b99 // 16 - 1 AS INT)) - 1 END AS p99_max_cents
        |FROM r ORDER BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val binned = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("value").isNotNull &&
          col("user_id").isNotNull)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT) * " +
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 24 AS INT))").as("v"))
        .select(col("event_type"),
          expr("CASE WHEN v < 16 THEN v ELSE 16 * (length(bin(v)) - 1) + " +
            "v div shiftleft(CAST(1 AS BIGINT), length(bin(v)) - 5) - 64 END").as("qbin"))
      val merged = binned.groupBy(col("event_type"), col("qbin"))
        .agg(count(lit(1)).as("c"))
      val byType = Window.partitionBy(col("event_type"))
      val cum = merged
        .withColumn("n", sum(col("c")).over(byType))
        .withColumn("cum", sum(col("c")).over(byType.orderBy(col("qbin"))))
      val ranks = cum.groupBy(col("event_type"))
        .agg(max(col("n")).cast("long").as("n"),
          count(lit(1)).cast("int").as("n_bins"),
          min(when(col("cum") * 100 >= col("n") * 50, col("qbin"))).as("b50"),
          min(when(col("cum") * 100 >= col("n") * 95, col("qbin"))).as("b95"),
          min(when(col("cum") * 100 >= col("n") * 99, col("qbin"))).as("b99"))
      def ub(c: String) = expr(s"CASE WHEN $c < 16 THEN $c ELSE " +
        s"shiftleft(CAST(17 + $c % 16 AS BIGINT), CAST($c div 16 - 1 AS INT)) - 1 END")
      ranks.select(col("event_type"), col("n"), col("n_bins"),
          ub("b50").as("p50_max_cents"), ub("b95").as("p95_max_cents"),
          ub("b99").as("p99_max_cents"))
        .orderBy(col("event_type"))
    },

    // SLO burn-rate alerting (the SRE multi-window rule): a page fires
    // only when BOTH the short window (5 min — catches the spike) and
    // the long window (1 h — confirms it is sustained) burn error
    // budget fast. Thresholds are SELF-CALIBRATING against the global
    // error rate (5m ≥ 2×, 1h ≥ 1.2× the corpus rate in integer bp) —
    // no fixture-tuned constants. Scale shape: ONE corpus pass partial-
    // aggregates into 5-min buckets, and every coarser rollup is a
    // window over those bucket rows, never a self-join: the 1-h sums
    // partition by b5 div 12, and the global rate is a whole-frame
    // window — one partition, bounded by one row per 5-minute bucket,
    // the output's own row count. The null-ts bucket counts in the
    // global rate and is filtered out after the windows, as the
    // oracle's inner hour join drops it. All rates are integer bp
    // (e·10000 div n, n ≥ 1 by construction); the ×10/×12 integer forms
    // express the 1.2 factor without floats.
    QueryKey("m44_burn_rate",
      s"""WITH b5 AS (SELECT $tsUs // 300000000 AS b5,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e
         |  FROM events GROUP BY 1),
         |h AS (SELECT b5 // 12 AS bh, CAST(sum(n) AS BIGINT) AS nh,
         |    CAST(sum(e) AS BIGINT) AS eh FROM b5 GROUP BY 1),
         |g AS (SELECT CAST(sum(e) AS BIGINT) * 10000 // CAST(sum(n) AS BIGINT) AS g_bp FROM b5)
         |SELECT make_timestamp(b5 * 300000000) AS bucket, n, e,
         |  e * 10000 // n AS err5_bp, eh * 10000 // nh AS err1h_bp,
         |  CAST(CASE WHEN e * 10000 // n >= 2 * g_bp
         |    AND (eh * 10000 // nh) * 10 >= 12 * g_bp THEN 1 ELSE 0 END AS INT) AS fast_burn
         |FROM b5 JOIN h ON b5 // 12 = bh CROSS JOIN g
         |ORDER BY bucket""".stripMargin) { (s, dir) =>
      val b5 = Tables.events(s, dir)
        .select(expr("unix_micros(ts) div 300000000").as("b5"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
        .groupBy(col("b5"))
        .agg(count(lit(1)).as("n"), sum(col("is_err")).as("e"))
      val hour = org.apache.spark.sql.expressions.Window.partitionBy(col("bh"))
      b5.withColumn("g_bp", expr("sum(e) OVER () * 10000 div sum(n) OVER ()"))
        .withColumn("bh", expr("b5 div 12"))
        .withColumn("nh", sum(col("n")).over(hour))
        .withColumn("eh", sum(col("e")).over(hour))
        .filter(col("b5").isNotNull)
        .withColumn("err5_bp", expr("e * 10000 div n"))
        .withColumn("err1h_bp", expr("eh * 10000 div nh"))
        .withColumn("fast_burn",
          (col("err5_bp") >= lit(2) * col("g_bp") &&
           col("err1h_bp") * 10 >= lit(12) * col("g_bp")).cast("int"))
        .select(expr("timestamp_micros(b5 * 300000000)").cast("timestamp_ntz").as("bucket"),
          col("n"), col("e"), col("err5_bp"), col("err1h_bp"), col("fast_burn"))
        .orderBy(col("bucket"))
    },

    // HLL set ALGEBRA across segments — the reason a 100-TB monitor
    // keeps sketches at all: per-segment register vectors (here: per
    // event_type) merge by elementwise MAX into the sketch OF THE
    // UNION — exactly, not approximately (same hash function, max over
    // the union of keys), so cross-segment distinct counts come from
    // stored sketch rows without rescanning the corpus. The union
    // estimate then yields intersection / Jaccard by inclusion-
    // exclusion. Scale shape: ONE corpus pass partial-aggregates into
    // the tall (segment, register) grid — at most |types| × 64 max-rank
    // rows, not 64 conditional agg columns per segment — and each
    // segment's dense vector is one collect_list of its ≤ 64 rows
    // (HllSketch.registerVectors); pairing runs IN-ROW on one collected
    // row of segment sketches (|types| × 64 ints) — never a corpus
    // self-join (the branch-reuse trap). A null user_id
    // hashes to a null register index: no register, as the oracle's
    // grid LEFT JOIN drops it. A null event_type is no segment: the
    // builder filters it, as the oracle's `a.event_type < b.event_type`
    // pairs never include it. All arithmetic engine-portable integers:
    // ranks, shifted harmonic terms, the m35 estimate division,
    // inclusion-exclusion, truncating Jaccard bp.
    QueryKey("m45_hll_algebra",
      """WITH h AS (SELECT event_type, md5('hll|' || CAST(user_id AS VARCHAR)) AS _h FROM events),
        |rk AS (SELECT event_type,
        |    ((strpos('0123456789abcdef', substr(_h, 1, 1)) - 1) * 16 +
        |     (strpos('0123456789abcdef', substr(_h, 2, 1)) - 1)) % 64 AS idx,
        |    CASE WHEN lz >= 12 THEN 49 ELSE lz * 4 +
        |      (CASE WHEN strpos('0123456789abcdef', substr(tail, lz + 1, 1)) - 1 >= 8 THEN 0
        |            WHEN strpos('0123456789abcdef', substr(tail, lz + 1, 1)) - 1 >= 4 THEN 1
        |            WHEN strpos('0123456789abcdef', substr(tail, lz + 1, 1)) - 1 >= 2 THEN 2
        |            ELSE 3 END) + 1 END AS rnk
        |  FROM (SELECT event_type, _h, substr(_h, 3, 12) AS tail,
        |      length(regexp_extract(substr(_h, 3, 12), '^0*')) AS lz FROM h) t),
        |types AS (SELECT DISTINCT event_type FROM events),
        |grid AS (SELECT t.event_type, g.idx
        |  FROM types t CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS idx) g),
        |regs AS (SELECT event_type, idx, max(rnk) AS mreg FROM rk GROUP BY 1, 2),
        |fr AS (SELECT grid.event_type, grid.idx, COALESCE(regs.mreg, 0) AS mreg
        |  FROM grid LEFT JOIN regs ON grid.event_type = regs.event_type AND grid.idx = regs.idx),
        |est AS (SELECT event_type,
        |    2904064 * CAST(1099511627776 AS BIGINT) //
        |      (1000 * (CAST(sum(CAST(1 AS BIGINT) << CAST(50 - mreg AS INT)) AS BIGINT) // 1024)) AS est
        |  FROM fr GROUP BY 1),
        |u AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(50 - greatest(a.mreg, b.mreg) AS INT)) AS BIGINT) AS s_union
        |  FROM fr a JOIN fr b ON a.idx = b.idx AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |uu AS (SELECT type_a, type_b,
        |    2904064 * CAST(1099511627776 AS BIGINT) // (1000 * (s_union // 1024)) AS est_union
        |  FROM u)
        |SELECT type_a, type_b, ea.est AS est_a, eb.est AS est_b, est_union,
        |  greatest(CAST(0 AS BIGINT), ea.est + eb.est - est_union) AS est_inter,
        |  greatest(CAST(0 AS BIGINT), ea.est + eb.est - est_union) * 10000 // est_union AS jaccard_bp
        |FROM uu JOIN est ea ON ea.event_type = uu.type_a
        |JOIN est eb ON eb.event_type = uu.type_b
        |ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
      import graft.functions.HllSketch
      val hashed = HllSketch.withIndexRank(
        Tables.events(s, dir).filter(col("event_type").isNotNull)
          .select(col("event_type"), col("user_id")),
        col("user_id"))
      HllSketch.registerVectors(hashed, "event_type")
        .agg(expr("array_sort(collect_list(struct(event_type, regs, est)))").as("sk"))
        .select(explode(expr(
          "flatten(transform(sequence(1, size(sk) - 1), i -> " +
          "transform(sequence(0, i - 1), j -> struct(sk[j] AS a, sk[i] AS b))))")).as("p"))
        .select(col("p.a.event_type").as("type_a"), col("p.b.event_type").as("type_b"),
          col("p.a.est").as("est_a"), col("p.b.est").as("est_b"),
          expr("aggregate(zip_with(p.a.regs, p.b.regs, (x, y) -> " +
            "shiftleft(CAST(1 AS BIGINT), CAST(50 - greatest(x, y) AS INT))), " +
            "CAST(0 AS BIGINT), (acc, t) -> acc + t)").as("s_union"))
        .withColumn("est_union", expr(HllSketch.estimateOf("s_union")))
        .withColumn("est_inter",
          expr("greatest(CAST(0 AS BIGINT), est_a + est_b - est_union)"))
        .withColumn("jaccard_bp", expr("est_inter * 10000 div est_union"))
        .drop("s_union")
        .orderBy(col("type_a"), col("type_b"))
    },

    QueryKey("m14_active_csv",
      """SELECT s_nationkey AS nationkey,
        |  string_agg(DISTINCT CAST(s_suppkey AS VARCHAR), ','
        |    ORDER BY CAST(s_suppkey AS VARCHAR)) AS active_members
        |FROM supplier GROUP BY s_nationkey ORDER BY nationkey""".stripMargin) { (s, dir) =>
      Tables.supplier(s, dir)
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(array_join(array_sort(collect_set(col("s_suppkey").cast("string"))), ",")
          .as("active_members"))
        .orderBy(col("nationkey"))
    },

    // Variant-domain ingest — the reverse of m6's PH_SYSTEM emit: the
    // 100-TB log store parses each semi-structured line ONCE into Spark
    // 4's binary VariantType; every later field access is a typed path
    // read on the shredded encoding, vs get_json_object re-parsing the
    // string per extraction (m13's shape — fine for one field, quadratic
    // in fields). The line is synthesized by string concat (the m6
    // LogLines contract), so parse_json does real work — no
    // from_json(to_json) elision. Nested-object and array-index paths
    // extracted typed; one partial-agg shuffle on the (zone, type) grid.
    QueryKey("m46_variant_ingest",
      """WITH lines AS (
        |  SELECT '{"node":{"id":' || user_id || ',"zone":"z' || (user_id % 4) ||
        |    '"},"metrics":[{"t":"' || regexp_replace(event_type, '[^A-Za-z0-9_-]', '', 'g') ||
        |    '","v":' || CAST(round(value * 100) AS BIGINT) || '}]}' AS line
        |  FROM events)
        |SELECT json_extract_string(line, '$.node.zone') AS zone,
        |  json_extract_string(line, '$.metrics[0].t') AS mtype,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract(line, '$.metrics[0].v') AS BIGINT)) AS BIGINT) / 100.0
        |    AS total_value
        |FROM lines GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      // event_type is sanitized to JSON-safe word chars before the line
      // is synthesized: a quote/backslash in a raw type tag would make
      // Spark's parse_json THROW where DuckDB's json_extract_string
      // returns NULL — divergent failure modes. Stripping is mirrored in
      // the oracle ('g' flag), so both engines embed identical tokens.
      val safeType = regexp_replace(col("event_type"), "[^A-Za-z0-9_-]", "")
      val line = concat(
        lit("{\"node\":{\"id\":"), col("user_id"),
        lit(",\"zone\":\"z"), pmod(col("user_id"), lit(4)),
        lit("\"},\"metrics\":[{\"t\":\""), safeType,
        lit("\",\"v\":"), Monitoring.cents(col("value")), lit("}]}"))
      ev.select(parse_json(line).as("v"))
        .select(
          variant_get(col("v"), "$.node.zone", "string").as("zone"),
          variant_get(col("v"), "$.metrics[0].t", "string").as("mtype"),
          variant_get(col("v"), "$.metrics[0].v", "bigint").as("cents"))
        .groupBy(col("zone"), col("mtype"))
        .agg(count(lit(1)).as("n"), (sum(col("cents")) / 100.0).as("total_value"))
        .orderBy(col("zone"), col("mtype"))
    }
  )
}
