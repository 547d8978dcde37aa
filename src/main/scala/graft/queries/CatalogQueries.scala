package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import FeedSql._

/** Catalog & connector-governance coverage (SURVEY §2, q63+): the
  * engine-extension faces a real deployment wires up LAST — named
  * tables, named functions, and connector DML — after the per-query
  * path-string surface works. Everything here is SESSION-ISOLATED (the
  * q60 pattern: `newSession()` + per-session catalog conf) so a catalog
  * registration never silently changes another key's resolution or
  * plan gates.
  *
  * Scale shapes: the catalog resolves names to the SAME parquet
  * FileTable scans the path queries plan (pushdown/pruning identical,
  * PlanSpec-gated); the V2 functions dispatch through codegen'd Invoke
  * onto the repo's native kernels (zero ScalaUDF); the mem-table DML
  * protocol is the single-JVM twin of what a lakehouse table format
  * implements — the POINT is the CREATE/INSERT/DELETE protocol
  * (commit-message exactly-once, predicate-vetted deletes), which is
  * identical on a 1000-executor cluster. */
object CatalogQueries {

  private def catalogSession(s0: SparkSession, dir: String): SparkSession = {
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.dir", dir)
    s
  }

  /** q71/q79's lifecycle on graft.mem.metrics<n>, which the caller
    * creates with its write mode: INSERT 30k feed rows, UPDATE every
    * gauge by +1,000,000, MERGE the doubled ids [15000, 40000) over
    * them, then the per-kind accounting. */
  private def updateMerge(s: SparkSession, n: Int): DataFrame = {
    s.read.format("graft.sources.MetricsFeedSource")
      .option("rows", "30000").option("partitions", "8").load()
      .createOrReplaceTempView(s"v${n}_feed")
    s.sql(s"INSERT INTO graft.mem.metrics$n " +
      s"SELECT id, kind, value FROM v${n}_feed")
    s.sql(s"UPDATE graft.mem.metrics$n SET value = value + 1000000 " +
      "WHERE kind = 'gauge'")
    s.read.format("graft.sources.MetricsFeedSource")
      .option("rows", "40000").option("partitions", "8").load()
      .createOrReplaceTempView(s"v${n}_src")
    s.sql(s"""
      MERGE INTO graft.mem.metrics$n t
      USING (SELECT id, kind, value * 2 AS value2 FROM v${n}_src
             WHERE id >= 15000) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET value = s.value2
      WHEN NOT MATCHED THEN INSERT (id, kind, value)
        VALUES (s.id, s.kind, s.value2)""")
    s.sql(s"""
      SELECT kind, CAST(count(*) AS BIGINT) AS n, sum(value) AS sum_value,
        min(value) AS min_value, max(id) AS max_id
      FROM graft.mem.metrics$n
      GROUP BY kind ORDER BY kind""")
  }

  /** q71/q79's final state in closed form: ids [0,15000) keep the
    * UPDATE result (base value, +1e6 on gauges); ids [15000,40000)
    * carry the MERGE overlay (2× base — matched rows updated, new ids
    * inserted). */
  private val updateMergeOracle =
    s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(value) AS BIGINT) AS sum_value,
       |  CAST(min(value) AS BIGINT) AS min_value,
       |  CAST(max(id) AS BIGINT) AS max_id
       |FROM (
       |  SELECT id,
       |    $feedKind AS kind,
       |    CASE WHEN id >= 15000 THEN 2 * ($feedValue)
       |      WHEN CAST(id % 3 AS INT) = 0
       |        THEN $feedValue + 1000000
       |      ELSE $feedValue END AS value
       |  FROM range(0, 40000) t(id)) u
       |GROUP BY kind ORDER BY kind""".stripMargin

  def keys: Seq[QueryKey] = Seq(

    // TableCatalog plugin (the named-table surface): corpus tables
    // resolve as graft.corpus.<name> from PURE SQL, and snapshot
    // selection is SQL time travel — VERSION AS OF v resolves through
    // loadTable(ident, version) to the append-only SnapshotLayout (the
    // SAME artifact q53 reads by hand-assembled path list). Legs: the
    // two snapshots (v1 = yesterday's crawl doc_id%10!=7, v2 = +
    // backfill delta), a predicate-pushdown leg (lang filter reaches
    // the parquet scan through the catalog — PlanSpec proves identical
    // PushedFilters to the path scan, and that the plan carries the
    // catalog identifier), and a cross-table join leg (documents ⋈
    // embeddings, both catalog-resolved).
    QueryKey("q63_table_catalog",
      """SELECT 1 AS leg, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS mass
        |FROM documents WHERE doc_id % 10 <> 7
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE lang = 'en'
        |UNION ALL
        |SELECT 4, CAST(count(*) AS BIGINT), CAST(sum(CAST(e.label AS BIGINT)) AS BIGINT)
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY leg""".stripMargin) { (s0, dir) =>
      val s = catalogSession(s0, dir)
      // build the versioned layout before analysis resolves VERSION AS OF
      graft.sources.SnapshotLayout.ensure(s, dir)
      s.sql("""
        SELECT 1 AS leg, CAST(count(*) AS BIGINT) AS n_rows, sum(n_chars) AS mass
        FROM graft.corpus.documents VERSION AS OF 1
        UNION ALL
        SELECT 2, CAST(count(*) AS BIGINT), sum(n_chars)
        FROM graft.corpus.documents VERSION AS OF 2
        UNION ALL
        SELECT 3, CAST(count(*) AS BIGINT), sum(n_chars)
        FROM graft.corpus.documents WHERE lang = 'en'
        UNION ALL
        SELECT 4, CAST(count(*) AS BIGINT), sum(CAST(e.label AS BIGINT))
        FROM graft.corpus.documents d
        JOIN graft.corpus.embeddings e ON d.doc_id = e.vec_id
        ORDER BY leg""")
    },

    // V2 FunctionCatalog + ScalarFunction magic-method codegen (q59
    // covered DECLARATIVE SQL UDFs; this is the compiled-native row):
    // the repo's kernels — token_count, cosine, hamming — callable by
    // NAME from pure SQL as graft.fn.*, resolved to codegen'd Invoke
    // expressions on the same static kernels the DataFrame-API native
    // expressions use (PlanSpec: zero ScalaUDF, zero
    // ApplyFunctionExpression row-boxing fallback). round(cos, 6) is
    // the proven cross-engine finish (s1 family).
    QueryKey("q64_fn_catalog",
      """WITH v AS (SELECT vec_id, embedding AS e,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings)
        |SELECT d.doc_id,
        |  CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+')) AS INT) AS n_tokens,
        |  round(list_sum(list_transform(generate_series(1, len(a.e)), i ->
        |    CAST(a.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE))) / sqrt(a.n2 * b.n2), 6) AS sim_next,
        |  CAST(bit_count(xor((d.doc_id % 1000000) * 2654435761,
        |    (d.doc_id % 1000000) * 2654435761 + d.doc_id % 7)) AS INT) AS ham
        |FROM documents d
        |JOIN v a ON a.vec_id = d.doc_id
        |JOIN v b ON b.vec_id = d.doc_id + 1
        |WHERE d.doc_id % 10 = 0
        |ORDER BY d.doc_id""".stripMargin) { (s0, dir) =>
      val s = catalogSession(s0, dir)
      s.sql("""
        SELECT d.doc_id,
          graft.fn.token_count(d.text) AS n_tokens,
          round(graft.fn.cosine_sim(e1.embedding, e2.embedding), 6) AS sim_next,
          graft.fn.hamming64((d.doc_id % 1000000) * 2654435761,
                             d.doc_id * 40503,
                             (d.doc_id % 1000000) * 2654435761 + d.doc_id % 7,
                             d.doc_id * 40503) AS ham
        FROM graft.corpus.documents d
        JOIN graft.corpus.embeddings e1 ON e1.vec_id = d.doc_id
        JOIN graft.corpus.embeddings e2 ON e2.vec_id = d.doc_id + 1
        WHERE d.doc_id % 10 = 0
        ORDER BY d.doc_id""")
    },

    // Connector ROW-LEVEL DELETE — the DML face of the connector matrix
    // (read q51, write q52, stream st19/st20, pushdown q58/q61/q62):
    // full lifecycle through the catalog — CREATE TABLE graft.mem.*,
    // INSERT INTO from the metrics feed (commit-message exactly-once,
    // the q52 protocol), then DELETE FROM through SupportsDeleteV2:
    // Spark translates the WHERE into a V2 predicate tree,
    // canDeleteWhere vets that EVERY predicate is evaluable (soundness
    // over coverage — a partial match would delete wrong rows; the
    // rejection path is spec-pinned), deleteWhere applies them in one
    // atomic swap. Output: the surviving rows' per-kind accounting —
    // closed-form from the feed formulas, so a delete that dropped too
    // much, too little, or double-applied breaks the hash.
    QueryKey("q67_connector_delete",
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  min(id) AS min_id, max(id) AS max_id
        |FROM (
        |  ${feedRows(0, 100000)}) u
        |WHERE NOT (kind = 'timer' OR id >= 90000)
        |GROUP BY kind ORDER BY kind""".stripMargin) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics67")
      s.sql("CREATE TABLE graft.mem.metrics67 " +
        "(id BIGINT, node STRING, kind STRING, value BIGINT)")
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "100000").option("partitions", "8").load()
        .createOrReplaceTempView("v67_feed")
      s.sql("INSERT INTO graft.mem.metrics67 " +
        "SELECT id, node, kind, value FROM v67_feed")
      s.sql("DELETE FROM graft.mem.metrics67 " +
        "WHERE kind = 'timer' OR id >= 90000")
      s.sql("""
        SELECT kind, CAST(count(*) AS BIGINT) AS n, sum(value) AS sum_value,
          min(id) AS min_id, max(id) AS max_id
        FROM graft.mem.metrics67
        GROUP BY kind ORDER BY kind""")
    },

    // connector UPDATE + MERGE through the GROUP-BASED row-level
    // rewrite (q71 — SupportsRowLevelOperations, the copy-on-write
    // protocol Iceberg implements; q67's DELETE face completed with
    // the two commands that CANNOT be metadata operations because they
    // produce NEW row versions): Spark rewrites UPDATE into
    // scan-groups → recompute → ReplaceData, and MERGE into the same
    // shape with the source joined in — the rewritten rows (unchanged
    // + updated + merge-inserts) arrive in ONE BatchWrite commit that
    // atomically replaces the affected groups (here: the whole table,
    // the honest group universe of a storeless demo; a real format
    // narrows groups by file metadata columns). DELETE keeps the
    // cheap SupportsDeleteV2 metadata path when its predicates are
    // evaluable; CatalogSpec pins the ESCALATION — a predicate the
    // metadata path vetoes falls back to this rewrite and still
    // deletes exactly. Lifecycle: CREATE → INSERT 30k feed rows →
    // UPDATE shifts every gauge by +1,000,000 → MERGE overlays ids
    // [15000, 40000) with doubled values (matched rows update,
    // unmatched insert) → per-kind accounting, closed-form oracle.
    QueryKey("q71_update_rewrite",
      updateMergeOracle) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics71")
      s.sql("CREATE TABLE graft.mem.metrics71 " +
        "(id BIGINT, kind STRING, value BIGINT)")
      updateMerge(s, 71)
    },

    // MERGE-ON-READ row-level writes (q79 — SupportsDelta, the half of
    // the row-level protocol real lakehouses run at 100 TB; q71's
    // copy-on-write twin): the table DECLARES
    // 'write.mode'='merge-on-read', so the SAME UPDATE + MERGE
    // lifecycle plans **WriteDelta** instead of ReplaceData — each
    // output row reaches the writer TAGGED insert/update/delete
    // (dispatched to DeltaWriter.insert/update/delete, keyed by the
    // declared rowId), and the write is O(changed rows), not O(touched
    // group): the UPDATE here surrenders ~10k update deltas instead of
    // rewriting all 30k rows. Per-op counts ride WriterCommitMessages
    // (the q52 accounting contract, CatalogSpec-pinned along with the
    // WriteDelta-not-ReplaceData plan gate and the delta-DELETE
    // fallback for predicates the metadata path vetoes). Same final
    // accounting as q71 — same answer, different write protocol.
    QueryKey("q79_delta_merge",
      // q71's closed form verbatim — same lifecycle, merge-on-read
      // protocol; matching hashes ARE the protocol-equivalence evidence
      updateMergeOracle) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics79")
      // the rowId column MUST be NOT NULL — Spark rejects a nullable
      // row identity at analysis (NULLABLE_ROW_ID_ATTRIBUTES, probed)
      s.sql("CREATE TABLE graft.mem.metrics79 " +
        "(id BIGINT NOT NULL, kind STRING, value BIGINT) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      updateMerge(s, 79)
    },

    // ATOMIC CTAS / RTAS (q80 — StagingTableCatalog, commit-or-vanish
    // DDL: the catalog's plain createTable is non-atomic — a failed
    // CTAS would leave a half-table; the staged protocol routes
    // CREATE/REPLACE TABLE AS SELECT through stageCreate/stageReplace,
    // the query writes INTO the StagedTable's private buffer, and ONE
    // registry operation at commitStagedChanges makes the complete
    // table visible — the DDL twin of the q52 write-commit contract;
    // CatalogSpec injects a mid-write failure on both paths and proves
    // no half-table after a failed CREATE, old table intact after a
    // failed REPLACE): CTAS materializes the feed's sub-20k slice,
    // RTAS atomically replaces it with the tripled ≥10k slice —
    // closed-form accounting over the REPLACED content proves the swap
    // was total (no old rows bleed through) and complete.
    QueryKey("q80_atomic_ctas",
      // the RTAS content only: ids [10000, 30000) at value*3 — any CTAS
      // row bleeding through the atomic swap breaks min_id/counts
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  min(id) AS min_id, max(id) AS max_id
        |FROM (
        |  SELECT id,
        |    $feedKind AS kind,
        |    3 * ($feedValue) AS value
        |  FROM range(10000, 30000) t(id)) u
        |GROUP BY kind ORDER BY kind""".stripMargin) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics80")
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "30000").option("partitions", "8").load()
        .createOrReplaceTempView("v80_feed")
      s.sql("CREATE TABLE graft.mem.metrics80 AS " +
        "SELECT id, kind, value FROM v80_feed WHERE id < 20000")
      s.sql("REPLACE TABLE graft.mem.metrics80 AS " +
        "SELECT id, kind, value * 3 AS value FROM v80_feed WHERE id >= 10000")
      s.sql("""
        SELECT kind, CAST(count(*) AS BIGINT) AS n, sum(value) AS sum_value,
          min(id) AS min_id, max(id) AS max_id
        FROM graft.mem.metrics80
        GROUP BY kind ORDER BY kind""")
    },

    // PARTITIONED tables + predicate-scoped INSERT OVERWRITE (q81 —
    // SupportsOverwriteV2, the daily-reingest idempotency face every
    // date-partitioned 100-TB table runs: yesterday's partition arrives
    // again corrected, the overwrite REPLACES exactly that partition
    // and every other partition survives): the table declares identity
    // partitioning on kind, the static PARTITION (kind='gauge') spec
    // arrives as a null-safe-equality V2 predicate (probed: <=>, not =)
    // vetted by the SAME interpreter the delete path uses, and the
    // store applies drop-matching + append in ONE atomic swap. The
    // overwrite runs TWICE with identical input — idempotency is the
    // point (a re-run ingest job must not double rows). Gauge rows
    // carry the corrected ×3 values; counter/timer prove survival.
    QueryKey("q81_partition_overwrite",
      // gauge partition re-ingested at ×3 (idempotent under the re-run);
      // counter/timer untouched
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(min(value) AS BIGINT) AS min_value,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM (
        |  SELECT id,
        |    $feedKind AS kind,
        |    CASE WHEN CAST(id % 3 AS INT) = 0
        |      THEN 3 * ($feedValue)
        |      ELSE $feedValue END AS value
        |  FROM range(0, 30000) t(id)) u
        |GROUP BY kind ORDER BY kind""".stripMargin) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics81")
      s.sql("CREATE TABLE graft.mem.metrics81 " +
        "(id BIGINT, kind STRING, value BIGINT) PARTITIONED BY (kind)")
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "30000").option("partitions", "8").load()
        .createOrReplaceTempView("v81_feed")
      s.sql("INSERT INTO graft.mem.metrics81 " +
        "SELECT id, kind, value FROM v81_feed")
      val reingest = "INSERT OVERWRITE graft.mem.metrics81 " +
        "PARTITION (kind = 'gauge') " +
        "SELECT id, value * 3 FROM v81_feed WHERE kind = 'gauge'"
      s.sql(reingest)
      s.sql(reingest) // idempotent: the re-run replaces, never doubles
      s.sql("""
        SELECT kind, CAST(count(*) AS BIGINT) AS n, sum(value) AS sum_value,
          min(value) AS min_value, max(id) AS max_id
        FROM graft.mem.metrics81
        GROUP BY kind ORDER BY kind""")
    },

    // IDENTITY COLUMNS (q82 — TableCatalogCapability
    // SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS, the surrogate-key
    // face completing the modern-DDL trio after q76 defaults and q77
    // constraints): the declaration rides TableInfo.columns() ONLY
    // (info.schema() strips the spec — probed, empty field metadata),
    // assignment is WRITER-SIDE off the table's high-water-mark
    // sequence (start + k·step, unique and monotone across commits by
    // construction — a distributed format reserves per-task ranges off
    // the same sequence), and GENERATED ALWAYS enforcement is the
    // CONNECTOR'S job too (probed: the analyzer lets an explicit
    // insert straight through to the writer; CatalogSpec pins the
    // rejection and the BY DEFAULT variant). Single-task ordered
    // insert (the q72 determinism contract) pins row_id = 1000 + 2·id
    // — the closed-form oracle proves uniqueness, density, and spec
    // adherence (START WITH 1000 INCREMENT BY 2) in one hash.
    QueryKey("q82_identity_columns",
      // row_id = 1000 + 2·id under the single-task ordered insert
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(sum(1000 + 2 * id) AS BIGINT) AS sum_rid,
        |  CAST(min(1000 + 2 * id) AS BIGINT) AS min_rid,
        |  CAST(max(1000 + 2 * id) AS BIGINT) AS max_rid
        |FROM (
        |  ${feedRows(0, 20000)}) u
        |GROUP BY kind ORDER BY kind""".stripMargin) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics82")
      s.sql("CREATE TABLE graft.mem.metrics82 (" +
        "row_id BIGINT GENERATED ALWAYS AS IDENTITY " +
        "(START WITH 1000 INCREMENT BY 2), " +
        "id BIGINT, kind STRING, value BIGINT)")
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "20000").option("partitions", "1").load()
        .createOrReplaceTempView("v82_feed")
      s.sql("INSERT INTO graft.mem.metrics82 (id, kind, value) " +
        "SELECT id, kind, value FROM v82_feed ORDER BY id")
      s.sql("""
        SELECT kind, CAST(count(*) AS BIGINT) AS n, sum(value) AS sum_value,
          sum(row_id) AS sum_rid, min(row_id) AS min_rid, max(row_id) AS max_rid
        FROM graft.mem.metrics82
        GROUP BY kind ORDER BY kind""")
    },

    // JOIN PUSHDOWN (q83 — SupportsPushDownJoin, new in Spark 4.1 and
    // the LAST pushdown face after predicates q51 / aggregates q58 /
    // limit+topN q61 / runtime filters q62; conf-gated by
    // spark.sql.optimizer.datasourceV2JoinPushdown, probed usable by a
    // NON-JDBC V2 source): a feed⋈feed INNER equi-join on id is
    // ABSORBED into one scan — the engine hands the left builder both
    // sides' pruning-surviving columns (collisions aliased: right id →
    // id_1) and the condition rewritten over post-alias names; the
    // joined scan plans the RANGE INTERSECTION of the two feeds and the
    // physical plan has NO join operator at all (PlanSpec: single
    // BatchScan with PushedJoin, zero Join/Exchange below the agg's).
    // Soundness gate: both sides plain, INNER, condition exactly the
    // two id columns — anything else declines and Spark plans the
    // normal join (spec pins the decline + parity). The federation
    // endgame: the join crosses the wire as its RESULT, zero build side.
    QueryKey("q83_join_pushdown",
      // the absorbed join == the feed restricted to the range
      // intersection [0, 40000)
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(sum(id) AS BIGINT) AS sum_id,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM (
        |  ${feedRows(0, 40000)}) u
        |GROUP BY kind ORDER BY kind""".stripMargin) { (s0, _) =>
      val s = s0.newSession()
      s.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
      def feed(n: Int) = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", n.toString).option("partitions", "8").load()
      val a = feed(60000)
      val b = feed(40000)
      a.join(b, a("id") === b("id"))
        .select(a("kind").as("kind"), a("id").as("id"),
          b("value").as("value"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("value")).as("sum_value"),
          sum(col("id")).as("sum_id"), max(col("id")).as("max_id"))
        .orderBy(col("kind"))
    },

    // STORED PROCEDURES (q84 — ProcedureCatalog / the CALL statement,
    // Spark 4.1: the maintenance-operation surface every lakehouse
    // ships; Iceberg's rewrite_data_files / expire_snapshots are
    // CALLs): graft.sys.compact resolves by name through the catalog,
    // binds its (table STRING) parameter against the analyzer-coerced
    // named argument, executes against table state, and returns its
    // summary through a LocalScan (probed: the CALL's resultset IS the
    // scan's rows; SHOW PROCEDURES lists the namespace). compact is
    // the OPTIMIZE analog a row store honors exactly — sort by id in
    // ONE atomic swap — and its observable is q72's _pos metadata
    // column: a MULTI-TASK insert leaves store order = task-commit
    // order, compaction makes _pos == the id rank, which is what turns
    // this key's per-kind _pos accounting closed-form (ids are dense,
    // so post-compact _pos == id; any unsorted or dropped row breaks
    // the sums).
    QueryKey("q84_procedure_call",
      // post-compact _pos == id (dense ids, sorted store)
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(sum(id) AS BIGINT) AS sum_pos,
        |  CAST(min(id) AS BIGINT) AS min_pos,
        |  CAST(max(id) AS BIGINT) AS max_pos
        |FROM (
        |  ${feedRows(0, 30000)}) u
        |GROUP BY kind ORDER BY kind""".stripMargin) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics84")
      s.sql("CREATE TABLE graft.mem.metrics84 " +
        "(id BIGINT, kind STRING, value BIGINT)")
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "30000").option("partitions", "8").load()
        .createOrReplaceTempView("v84_feed")
      s.sql("INSERT INTO graft.mem.metrics84 " +
        "SELECT id, kind, value FROM v84_feed")
      s.sql("CALL graft.sys.compact(table => 'metrics84')")
      s.sql("""
        SELECT kind, CAST(count(*) AS BIGINT) AS n, sum(value) AS sum_value,
          sum(_pos) AS sum_pos, min(_pos) AS min_pos, max(_pos) AS max_pos
        FROM graft.mem.metrics84
        GROUP BY kind ORDER BY kind""")
    },

    // SECONDARY INDEX DDL + INDEX-ACCELERATED SCAN (q89 —
    // SupportsIndex, the CREATE INDEX / DROP INDEX face JDBC
    // connectors implement; CreateIndexExec/DropIndexExec wire it from
    // SQL): a mem index is a per-block ZONE MAP over a BIGINT column —
    // MAINTAINED at every commit (the write-side cost a real index
    // pays) and consulted by the scan as a ROWGROUP-SKIP hint under
    // the parquet model: pushPredicates absorbs NOTHING (Spark keeps
    // every filter), the index only prunes blocks the persisted zones
    // PROVE cannot match — the q62 superset soundness contract, so a
    // stale zone map degrades to a full scan, never a wrong answer.
    // The single-task ordered insert clusters ids, so the BETWEEN
    // probe plans 3 of 30 blocks (CatalogSpec pins the block counts,
    // the DDL error paths, and index-vs-no-index result equality); the
    // key's output is the probe's closed-form per-kind accounting.
    QueryKey("q89_index_scan",
      // the BETWEEN probe's rows, closed-form from the feed formulas
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(min(id) AS BIGINT) AS min_id,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM (
        |  ${feedRows(10000, 12048)}) u
        |GROUP BY kind ORDER BY kind""".stripMargin) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics89")
      s.sql("CREATE TABLE graft.mem.metrics89 " +
        "(id BIGINT, kind STRING, value BIGINT)")
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "30000").option("partitions", "1").load()
        .createOrReplaceTempView("v89_feed")
      s.sql("INSERT INTO graft.mem.metrics89 " +
        "SELECT id, kind, value FROM v89_feed ORDER BY id")
      s.sql("CREATE INDEX idx89 ON graft.mem.metrics89 (id)")
      s.sql("""
        SELECT kind, CAST(count(*) AS BIGINT) AS n, sum(value) AS sum_value,
          min(id) AS min_id, max(id) AS max_id
        FROM graft.mem.metrics89
        WHERE id BETWEEN 10000 AND 12047
        GROUP BY kind ORDER BY kind""")
    },

    // PARTITION DDL (q86 — SupportsAtomicPartitionManagement, the
    // natural completion of q81's identity partitioning and the DDL
    // every date-partitioned deployment touches weekly): the table's
    // EXPLICIT partition registry answers SHOW PARTITIONS; ALTER TABLE
    // ADD PARTITION registers an empty partition BEFORE any row lands
    // (the register-tomorrow-then-ingest workflow), DROP PARTITION
    // removes registry entry AND data, RENAME PARTITION moves both,
    // TRUNCATE ... PARTITION empties the data but keeps the partition
    // listed, and plain INSERTs auto-register the values they touch
    // (dynamic partitioning — DDL-created and write-created partitions
    // are indistinguishable afterwards). The output joins the REGISTRY
    // (SHOW PARTITIONS, parsed) against the per-partition row
    // accounting, so every DDL effect is hash-checked: a dropped
    // partition that kept rows, a truncated one that vanished from the
    // listing, or a rename that moved metadata without rewriting rows
    // all break it. CatalogSpec pins the error paths (add-existing,
    // drop-missing) and the atomic all-or-nothing contract.
    QueryKey("q86_partition_ddl",
      // registry after the DDL dance: {0, 1 (truncated, still listed),
      // 3, 6 (renamed from 4 — rows' day rewritten), 9 (added empty)};
      // day 2 dropped with its rows, day 1's rows truncated away
      s"""WITH rows86 AS (
        |  SELECT id,
        |    CASE WHEN id % 5 = 4 THEN 6 ELSE id % 5 END AS day,
        |    $feedValue AS value
        |  FROM range(0, 20000) t(id)
        |  WHERE id % 5 NOT IN (1, 2)
        |), reg AS (SELECT * FROM (VALUES (0), (1), (3), (6), (9)) p(day))
        |SELECT CAST(reg.day AS BIGINT) AS day,
        |  CAST(count(rows86.id) AS BIGINT) AS n,
        |  CAST(coalesce(sum(rows86.value), 0) AS BIGINT) AS sum_value,
        |  CAST(coalesce(max(rows86.id), -1) AS BIGINT) AS max_id
        |FROM reg LEFT JOIN rows86 ON rows86.day = reg.day
        |GROUP BY reg.day ORDER BY day""".stripMargin) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics86")
      s.sql("CREATE TABLE graft.mem.metrics86 " +
        "(id BIGINT, day BIGINT, value BIGINT) PARTITIONED BY (day)")
      // tomorrow's partition exists (and lists) before its first row
      s.sql("ALTER TABLE graft.mem.metrics86 ADD PARTITION (day = 9)")
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "20000").option("partitions", "8").load()
        .createOrReplaceTempView("v86_feed")
      s.sql("INSERT INTO graft.mem.metrics86 " +
        "SELECT id, id % 5 AS day, value FROM v86_feed")
      s.sql("ALTER TABLE graft.mem.metrics86 DROP PARTITION (day = 2)")
      s.sql("ALTER TABLE graft.mem.metrics86 PARTITION (day = 4) " +
        "RENAME TO PARTITION (day = 6)")
      s.sql("TRUNCATE TABLE graft.mem.metrics86 PARTITION (day = 1)")
      val reg = s.sql("SHOW PARTITIONS graft.mem.metrics86")
        .select(regexp_extract(col("partition"), "day=([0-9]+)", 1)
          .cast("long").as("day"))
      reg.join(s.table("graft.mem.metrics86"), Seq("day"), "left")
        .groupBy(col("day"))
        .agg(count(col("id")).as("n"),
          coalesce(sum(col("value")), lit(0L)).as("sum_value"),
          coalesce(max(col("id")), lit(-1L)).as("max_id"))
        .orderBy(col("day"))
    },

    // METADATA COLUMNS (q72 — SupportsMetadataColumns, the Iceberg
    // _file/_pos analog): `_pos` is the row's position in the store
    // snapshot — hidden from SELECT * but addressable by name from SQL,
    // served by the SAME pruning path as data columns (the scan's
    // projected schema maps _pos to the slice base + offset, zero extra
    // cost when unreferenced). Its load-bearing role is q71's rewrite
    // (the operation REQUESTS _pos so writes project cleanly); here it
    // is exercised as a USER-facing column: a single-task ordered
    // INSERT pins store order to id order (documented determinism
    // contract — multi-task inserts commit in task order), a DELETE
    // compacts the store, and the query reads the SURVIVORS' positions
    // — row_number-after-compaction semantics, closed-form oracle.
    QueryKey("q72_metadata_cols",
      // survivors of the value floor, positions = compacted rank by the
      // insert order (== id order under the single-task ordered insert)
      s"""WITH survivors AS (
        |  ${feedRows(0, 30000)}
        |  WHERE $feedValue >= 20000),
        |pos AS (
        |  SELECT kind, value,
        |    CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS _pos
        |  FROM survivors)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(sum(_pos) AS BIGINT) AS sum_pos,
        |  CAST(min(_pos) AS BIGINT) AS min_pos,
        |  CAST(max(_pos) AS BIGINT) AS max_pos
        |FROM pos GROUP BY kind ORDER BY kind""".stripMargin) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics72")
      s.sql("CREATE TABLE graft.mem.metrics72 " +
        "(id BIGINT, kind STRING, value BIGINT)")
      // partitions=1 → one writer task → store order == query order
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "30000").option("partitions", "1").load()
        .createOrReplaceTempView("v72_feed")
      s.sql("INSERT INTO graft.mem.metrics72 " +
        "SELECT id, kind, value FROM v72_feed ORDER BY id")
      s.sql("DELETE FROM graft.mem.metrics72 WHERE value < 20000")
      s.sql("""
        SELECT kind, CAST(count(*) AS BIGINT) AS n, sum(value) AS sum_value,
          sum(_pos) AS sum_pos, min(_pos) AS min_pos, max(_pos) AS max_pos
        FROM graft.mem.metrics72
        GROUP BY kind ORDER BY kind""")
    },

    // V2 AggregateFunction (q73 — the last FunctionCatalog face after
    // q64's scalars): a custom aggregate callable BY NAME from pure
    // SQL, executing the full partial-aggregation protocol — per-bit
    // MAJORITY vote over 48-bit signatures, electing one representative
    // fingerprint per near-dup family (the d25 companion op). What
    // crosses the shuffle is one 49-counter state per (group,
    // partition), never rows — map-side partials survive because the
    // function implements merge(). Signatures: 48 bits from
    // md5(family), each member flipping its low (doc_id % 3) bits — so
    // the majority must recover the family base on bit 1 (flipped by
    // ~1/3) and the alignment-dependent verdict on bit 0 (flipped by
    // ~2/3); the oracle recomputes the vote generically, so any
    // update/merge/tie bug breaks the hash.
    QueryKey("q73_catalog_udaf",
      """WITH f AS (
        |  SELECT doc_id, doc_id // 20 AS fam,
        |    md5('sig|' || CAST(doc_id // 20 AS VARCHAR)) AS h
        |  FROM documents),
        |s AS (
        |  SELECT fam,
        |    xor(CAST(list_sum(list_transform(generate_series(0, 11), k ->
        |      CAST(strpos('0123456789abcdef', substring(h, 1 + k, 1)) - 1 AS BIGINT)
        |        * (1::BIGINT << (4 * (11 - k))))) AS BIGINT),
        |      (1::BIGINT << CAST(doc_id % 3 AS INT)) - 1) AS sig
        |  FROM f),
        |bits AS (
        |  SELECT fam, b,
        |    sum(CASE WHEN (sig >> b) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
        |    count(*) AS n
        |  FROM s, generate_series(0, 47) t(b) GROUP BY fam, b)
        |SELECT fam,
        |  CAST(sum(CASE WHEN ones * 2 > n THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS centroid,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM bits GROUP BY fam ORDER BY fam""".stripMargin) { (s0, dir) =>
      val s = catalogSession(s0, dir)
      s.sql("""
        SELECT fam, graft.fn.sig_majority(sig) AS centroid,
          CAST(count(*) AS BIGINT) AS n
        FROM (
          SELECT doc_id div 20 AS fam,
            CAST(conv(substring(md5(concat('sig|',
              CAST(doc_id div 20 AS STRING))), 1, 12), 16, 10) AS BIGINT)
              ^ (CAST(shiftleft(1, CAST(doc_id % 3 AS INT)) AS BIGINT) - 1) AS sig
          FROM graft.corpus.documents)
        GROUP BY fam ORDER BY fam""")
    },

    // COLUMN DEFAULT VALUES (q76 — TableCatalogCapability
    // SUPPORT_COLUMN_DEFAULT_VALUE, the modern-DDL face every lakehouse
    // format ships: schema evolution adds a column, old writers keep
    // inserting the narrow shape, the ANALYZER fills the declared
    // default — no connector code runs, the default lives in column
    // metadata and resolution happens at plan time): three insert
    // shapes against one 3-column table — id-only (both defaults
    // fill), id+kind (score defaults), full-width (no defaults) — and
    // the explicit DEFAULT keyword (CatalogSpec); per-kind accounting
    // is closed-form over which shape covered which id range, so a
    // default that failed to fill, filled the wrong value, or
    // clobbered provided values breaks the hash.
    QueryKey("q76_column_defaults",
      // shape 1 (id < 10000): kind='unknown', score=50; shape 2
      // ([10000, 20000)): feed kind, score=50; shape 3 (≥20000): feed
      // kind + value as score
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(score) AS BIGINT) AS sum_score,
        |  CAST(min(score) AS BIGINT) AS min_score,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM (
        |  SELECT id,
        |    CASE WHEN id < 10000 THEN 'unknown'
        |      ELSE CASE CAST(id % 3 AS INT) WHEN 0 THEN 'gauge'
        |        WHEN 1 THEN 'counter' ELSE 'timer' END END AS kind,
        |    CASE WHEN id < 20000 THEN 50
        |      ELSE $feedValue END AS score
        |  FROM range(0, 30000) t(id)) u
        |GROUP BY kind ORDER BY kind""".stripMargin) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics76")
      s.sql("CREATE TABLE graft.mem.metrics76 (id BIGINT, " +
        "kind STRING DEFAULT 'unknown', score BIGINT DEFAULT 50)")
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "30000").option("partitions", "8").load()
        .createOrReplaceTempView("v76_feed")
      s.sql("INSERT INTO graft.mem.metrics76 (id) " +
        "SELECT id FROM v76_feed WHERE id < 10000")
      s.sql("INSERT INTO graft.mem.metrics76 (id, kind) " +
        "SELECT id, kind FROM v76_feed WHERE id >= 10000 AND id < 20000")
      s.sql("INSERT INTO graft.mem.metrics76 " +
        "SELECT id, kind, value FROM v76_feed WHERE id >= 20000")
      s.sql("""
        SELECT kind, CAST(count(*) AS BIGINT) AS n, sum(score) AS sum_score,
          min(score) AS min_score, max(id) AS max_id
        FROM graft.mem.metrics76
        GROUP BY kind ORDER BY kind""")
    },

    // CHECK CONSTRAINTS (q77 — TableCatalogCapability
    // SUPPORT_TABLE_CONSTRAINT: the constraint rides TableInfo into
    // createTable — the ONLY createTable form that carries it — is
    // stored on the table, surfaces through Table.constraints(), and
    // the ENGINE enforces it row-by-row on every write before data
    // reaches the writer; CatalogSpec pins the violation path — a bad
    // row fails the whole INSERT with CHECK_CONSTRAINT_VIOLATION and
    // the q52 commit protocol keeps the store untouched, exactly-once
    // even under rejection): the key ingests 20k feed rows through the
    // enforced gate (every row checked against value ∈ [0, 100000) —
    // true by the feed's construction, so enforcement cost is the
    // observable and the accounting is closed-form).
    QueryKey("q77_check_constraint",
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(min(value) AS BIGINT) AS min_value,
        |  CAST(max(value) AS BIGINT) AS max_value
        |FROM (
        |  ${feedRows(0, 20000)}) u
        |GROUP BY kind ORDER BY kind""".stripMargin) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics77")
      s.sql("CREATE TABLE graft.mem.metrics77 (id BIGINT, kind STRING, " +
        "value BIGINT, CONSTRAINT v_ok CHECK (value >= 0 AND value < 100000))")
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "20000").option("partitions", "8").load()
        .createOrReplaceTempView("v77_feed")
      s.sql("INSERT INTO graft.mem.metrics77 SELECT id, kind, value FROM v77_feed")
      s.sql("""
        SELECT kind, CAST(count(*) AS BIGINT) AS n, sum(value) AS sum_value,
          min(value) AS min_value, max(value) AS max_value
        FROM graft.mem.metrics77
        GROUP BY kind ORDER BY kind""")
    },

    // ALTER TABLE schema evolution (q78 — TableCatalog.alterTable with
    // TableChange: the DDL half of q38's schema-evolution READ story,
    // through the connector protocol a lakehouse format implements):
    // ADD COLUMN with DEFAULT (the default is recorded as the column's
    // exists-default AND materialized into existing rows — identical
    // reads, storeless row format), RENAME COLUMN (pure metadata; data
    // addressed by the new name), ADD + DROP of a scratch column (row
    // projection). Each change swaps schema + rows atomically under the
    // registry lock, so a concurrent reader snapshots old or new shape,
    // never a mix. Old-shape inserts before the evolution, new-shape
    // after; closed-form accounting over both eras under the renamed
    // column proves nothing was lost, null-filled, or mis-defaulted.
    QueryKey("q78_alter_table",
      // old era (id < 10000): score materialized from the ADD COLUMN
      // default; new era: feed value
      s"""SELECT metric_kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(score) AS BIGINT) AS sum_score,
        |  CAST(min(score) AS BIGINT) AS min_score,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM (
        |  SELECT id,
        |    $feedKind AS metric_kind,
        |    CASE WHEN id < 10000 THEN 50
        |      ELSE $feedValue END AS score
        |  FROM range(0, 20000) t(id)) u
        |GROUP BY metric_kind ORDER BY metric_kind""".stripMargin) { (s0, _) =>
      val s = catalogSession(s0, "")
      s.sql("DROP TABLE IF EXISTS graft.mem.metrics78")
      s.sql("CREATE TABLE graft.mem.metrics78 (id BIGINT, kind STRING)")
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "20000").option("partitions", "8").load()
        .createOrReplaceTempView("v78_feed")
      s.sql("INSERT INTO graft.mem.metrics78 " +
        "SELECT id, kind FROM v78_feed WHERE id < 10000")
      s.sql("ALTER TABLE graft.mem.metrics78 ADD COLUMN score BIGINT DEFAULT 50")
      s.sql("INSERT INTO graft.mem.metrics78 " +
        "SELECT id, kind, value FROM v78_feed WHERE id >= 10000")
      s.sql("ALTER TABLE graft.mem.metrics78 RENAME COLUMN kind TO metric_kind")
      s.sql("ALTER TABLE graft.mem.metrics78 ADD COLUMN scratch STRING DEFAULT 'x'")
      s.sql("ALTER TABLE graft.mem.metrics78 DROP COLUMN scratch")
      s.sql("""
        SELECT metric_kind, CAST(count(*) AS BIGINT) AS n,
          sum(score) AS sum_score, min(score) AS min_score, max(id) AS max_id
        FROM graft.mem.metrics78
        GROUP BY metric_kind ORDER BY metric_kind""")
    }
  )
}
