package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** M49 SQL views: metadata-only named queries, late-binding, invoker
  * rights, one view namespace shared by the dispatcher and the native
  * DSv2 ViewCatalog. */
class ViewSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("category", StringType),
    StructField("amount", DoubleType)))

  private def fresh(): (LakeCatalog, LakeSql) = {
    val wh = Files.createTempDirectory("graft-view-wh")
    var t = 1700000000000L
    val cat = new LakeCatalog(spark, wh, () => { t += 1000; t })
    (cat, new LakeSql(cat))
  }

  private def df(rows: (Int, String, Double)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, c, a) => Row(i, c, a) }, 1),
      schema)

  private def seed(cat: LakeCatalog): Unit = {
    cat.createNamespace("db")
    cat.createTable("db", "t", schema)
      .append(df((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)))
  }

  test("create / select / replace / drop through the dispatcher") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE VIEW db.v AS SELECT category, SUM(amount) AS total " +
      "FROM db.t GROUP BY category")
    val got = sql.run("SELECT * FROM db.v ORDER BY category")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(("a", 40.0), ("b", 20.0)))
    // views compose with ordinary SQL (join view to base table)
    val joined = sql.run(
      """SELECT t.id FROM db.t t JOIN db.v v ON t.category = v.category
         WHERE v.total > 30 ORDER BY t.id""")
      .collect().map(_.getInt(0)).toSeq
    assert(joined == Seq(1, 3))
    intercept[IllegalArgumentException](
      sql.run("CREATE VIEW db.v AS SELECT * FROM db.t"))
    sql.run("CREATE OR REPLACE VIEW db.v AS SELECT id FROM db.t WHERE id > 1")
    assert(sql.run("SELECT * FROM db.v ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 3))
    assert(sql.run("SHOW VIEWS IN db").collect()
      .map(_.getString(1)).toSeq == Seq("v"))
    sql.run("DROP VIEW db.v")
    assert(cat.listViews("db").isEmpty)
    intercept[Exception](sql.run("SELECT * FROM db.v"))
    // IF EXISTS is quiet, plain DROP of a missing view is loud
    sql.run("DROP VIEW IF EXISTS db.v")
    intercept[IllegalArgumentException](sql.run("DROP VIEW db.v"))
  }

  test("views are late-binding: they see DML after definition") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE VIEW db.cnt AS SELECT COUNT(*) AS n FROM db.t")
    assert(sql.run("SELECT * FROM db.cnt").head().getLong(0) == 3)
    sql.run("INSERT INTO db.t VALUES (4, 'c', 40.0)")
    assert(sql.run("SELECT * FROM db.cnt").head().getLong(0) == 4)
  }

  test("views stack, and a definition cycle errors instead of recursing") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE VIEW db.v1 AS SELECT id, amount FROM db.t WHERE id > 1")
    sql.run("CREATE VIEW db.v2 AS SELECT SUM(amount) AS s FROM db.v1")
    assert(sql.run("SELECT * FROM db.v2").head().getDouble(0) == 50.0)
    // forge a cycle directly in storage (the DDL path can't express one
    // until both names exist)
    cat.createView("db", "c1",
      ViewMetadata("db.c1", "SELECT * FROM db.c2"), orReplace = true)
    cat.createView("db", "c2",
      ViewMetadata("db.c2", "SELECT * FROM db.c1"), orReplace = true)
    val e = intercept[SqlParseException](sql.run("SELECT * FROM db.c1"))
    assert(e.getMessage.contains("circular") || e.getMessage.contains("nesting"))
  }

  test("invoker rights: reading a view demands SELECT on the base table") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE VIEW db.v AS SELECT id FROM db.t")
    cat.grant("db", "t", "alice", Seq("SELECT"))
    assert(sql.run("SELECT * FROM db.v ORDER BY id", Some("alice"))
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    intercept[Exception](sql.run("SELECT * FROM db.v", Some("mallory")))
  }

  test("view metadata is gated: DESCRIBE and SHOW VIEWS demand the " +
    "could-read grants, like SHOW TABLES") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE VIEW db.gv AS SELECT id FROM db.t WHERE category = 'a'")
    cat.grant("db", "t", "alice", Seq("SELECT"))
    // alice could read the view → she may see its definition and listing
    assert(sql.run("DESCRIBE db.gv", Some("alice")).collect()
      .exists(_.getString(0) == "# view_text"))
    assert(sql.run("SHOW VIEWS IN db", Some("alice")).collect()
      .map(_.getString(1)).toSeq == Seq("gv"))
    // mallory holds nothing: the stored text (it embeds db.t and the
    // predicate literal) must not leak through DESCRIBE, and the view
    // must not enumerate
    intercept[AccessDeniedException](
      sql.run("DESCRIBE db.gv", Some("mallory")))
    assert(sql.run("SHOW VIEWS IN db", Some("mallory")).collect().isEmpty)
    // stacked views gate through their dependencies recursively
    sql.run("CREATE VIEW db.gv2 AS SELECT * FROM db.gv")
    assert(sql.run("SHOW VIEWS IN db", Some("alice")).collect()
      .map(_.getString(1)).toSeq == Seq("gv", "gv2"))
    intercept[AccessDeniedException](
      sql.run("DESCRIBE db.gv2", Some("mallory")))
  }

  test("a view over a DROPPED dependency denies metadata access " +
    "(ADVICE r10: dangling refs must not widen the gate)") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE VIEW db.dgl AS SELECT id FROM db.t WHERE category = 'a'")
    cat.grant("db", "t", "alice", Seq("SELECT"))
    assert(sql.run("DESCRIBE db.dgl", Some("alice")).collect()
      .exists(_.getString(0) == "# view_text"))
    // drop the base table out from under the view: the stored text still
    // embeds db.t and the predicate literal — NOBODY (with a principal)
    // may see it now, not even the previously-granted alice (her grant
    // died with the table)
    cat.dropTable("db", "t")
    intercept[AccessDeniedException](
      sql.run("DESCRIBE db.dgl", Some("alice")))
    intercept[AccessDeniedException](
      sql.run("DESCRIBE db.dgl", Some("mallory")))
    assert(sql.run("SHOW VIEWS IN db", Some("mallory")).collect().isEmpty)
    // principal-less sessions stay administrative (repair path)
    assert(sql.run("DESCRIBE db.dgl").collect()
      .exists(_.getString(0) == "# view_text"))
  }

  test("a view name cannot shadow a table and vice versa") {
    val (cat, sql) = fresh(); seed(cat)
    intercept[IllegalArgumentException](
      sql.run("CREATE VIEW db.t AS SELECT 1 AS x"))
    sql.run("CREATE VIEW db.v AS SELECT id FROM db.t")
    intercept[IllegalArgumentException](
      cat.createTable("db", "v", schema))
  }

  test("native DSv2 ViewCatalog API: create/list/load/rename/drop") {
    // Spark 4.1's SQL layer never routes CREATE VIEW / SHOW VIEWS to a
    // v2 ViewCatalog (MISSING_CATALOG_ABILITY on any non-session
    // catalog), so the API surface is exercised directly — it shares
    // storage with the dispatcher, which IS the SQL route today
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog, ViewInfo}
    val (cat, sql) = fresh(); seed(cat)
    val vc = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[ViewCatalog]
    val ident = Identifier.of(Array("db"), "nv")
    vc.createView(new ViewInfo(ident,
      "SELECT category, COUNT(*) AS n FROM db.t GROUP BY category",
      "lake", Array("db"), new StructType(), Array.empty,
      Array.empty, Array.empty, java.util.Collections.emptyMap()))
    assert(vc.viewExists(ident))
    assert(vc.listViews("db").map(_.name()).toSeq == Seq("nv"))
    assert(vc.loadView(ident).query().contains("GROUP BY category"))
    // shared storage: the dispatcher reads the natively-created view
    val viaDispatcher = sql.run("SELECT * FROM db.nv ORDER BY category")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaDispatcher == Seq(("a", 2L), ("b", 1L)))
    vc.renameView(ident, Identifier.of(Array("db"), "nv2"))
    assert(cat.viewExists("db", "nv2") && !cat.viewExists("db", "nv"))
    assert(vc.dropView(Identifier.of(Array("db"), "nv2")))
    assert(cat.listViews("db").isEmpty)
  }

  test("materialized views: storage served when fresh, live when stale") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE MATERIALIZED VIEW db.mv AS " +
      "SELECT category, CAST(COUNT(*) AS BIGINT) AS n FROM db.t GROUP BY category")
    def read() = sql.run("SELECT * FROM db.mv ORDER BY category")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(read() == Seq(("a", 2L), ("b", 1L)))
    // PROOF the storage serves while fresh: inject an anomaly row
    // directly into the hidden storage table — a fresh read must see it
    // (it scans storage), a stale read must not (it re-runs the text)
    val st = cat.loadTable("db", "__mv_mv").get
    st.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("zz", 99L)), 1),
      StructType(Seq(StructField("category", StringType),
        StructField("n", LongType)))))
    assert(read().contains(("zz", 99L)), "fresh MV must serve storage")
    // the native route resolves BY NAME through the same dispatcher
    // logic, so it takes the identical storage fast path
    val native = spark.sql("SELECT * FROM lake.db.mv")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(native.contains(("zz", 99L)), "native MV read must serve storage")
    // base-table DML → stale → falls back to the live definition
    sql.run("INSERT INTO db.t VALUES (4, 'a', 40.0)")
    val stale = read()
    assert(stale == Seq(("a", 3L), ("b", 1L)), s"stale MV must go live: $stale")
    // refresh restores the fast path with the new contents
    sql.run("REFRESH MATERIALIZED VIEW db.mv")
    assert(read() == Seq(("a", 3L), ("b", 1L)))
    val st2 = cat.loadTable("db", "__mv_mv").get
    assert(st2.read().count() == 2) // anomaly overwritten by refresh
    // listed as materialized; DROP removes the storage table too
    val shown = sql.run("SHOW VIEWS IN db").collect()
      .map(r => (r.getString(1), r.getBoolean(2))).toMap
    assert(shown("mv"))
    sql.run("DROP VIEW db.mv")
    assert(!cat.tableExists("db", "__mv_mv"))
  }

  test("a materialized view over a WITH clause stamps the tables inside it") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE MATERIALIZED VIEW db.cm AS " +
      "WITH x AS (SELECT id FROM db.t) SELECT id FROM x")
    assert(cat.viewInfo("db", "cm").get.props("deps").startsWith("db.t="))
    sql.run("INSERT INTO db.t VALUES (4, 'c', 40.0)")
    // the base moved: the read falls back to live expansion, never stale storage
    assert(sql.run("SELECT COUNT(*) FROM db.cm").head().getLong(0) == 4)
  }

  test("incremental MV refresh: append-only selection appends the delta only") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE MATERIALIZED VIEW db.imv AS " +
      "SELECT id, amount * 2 AS a2 FROM db.t WHERE category = 'a'")
    val st0 = cat.loadTable("db", "__mv_imv").get
    val snaps0 = st0.meta.snapshots.size
    // base advances by APPENDS only → refresh is O(increment): one new
    // storage snapshot, an append, carrying only the delta's rows
    sql.run("INSERT INTO db.t VALUES (10, 'a', 100.0), (11, 'b', 110.0)")
    sql.run("INSERT INTO db.t VALUES (12, 'a', 120.0)")
    val msg = sql.run("REFRESH MATERIALIZED VIEW db.imv").head().getString(0)
    assert(msg.contains("incrementally (+2 rows)"), msg)
    val st1 = cat.loadTable("db", "__mv_imv").get
    assert(st1.meta.snapshots.size == snaps0 + 1)
    assert(st1.currentSnapshot.get.operation == "append")
    val got = sql.run("SELECT * FROM db.imv ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(got == Seq((1, 20.0), (3, 60.0), (10, 200.0), (12, 240.0)))
    // an up-to-date MV refreshes as a zero-row increment
    assert(sql.run("REFRESH MATERIALIZED VIEW db.imv").head().getString(0)
      .contains("incrementally (+0 rows)"))
    // a non-append commit on the base forces the full path
    sql.run("DELETE FROM db.t WHERE id = 10")
    val msg2 = sql.run("REFRESH MATERIALIZED VIEW db.imv").head().getString(0)
    assert(msg2.contains("full recompute"), msg2)
    val got2 = sql.run("SELECT * FROM db.imv ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(got2 == Seq((1, 20.0), (3, 60.0), (12, 240.0)))
    // an expression AROUND an aggregate (here a CAST) is not a bare
    // partial state — its merge function is unknown, so the refresh
    // must take the full path, not guess
    sql.run("CREATE MATERIALIZED VIEW db.amv AS " +
      "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM db.t")
    sql.run("INSERT INTO db.t VALUES (13, 'c', 130.0)")
    assert(sql.run("REFRESH MATERIALIZED VIEW db.amv").head().getString(0)
      .contains("full recompute"))
    assert(sql.run("SELECT * FROM db.amv").head().getLong(0) == 6L)
  }

  test("incremental MV refresh merges distributive aggregates " +
    "and reads only the increment (old base files corrupted on disk)") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE MATERIALIZED VIEW db.gmv AS " +
      "SELECT category, COUNT(*) AS n, SUM(amount) AS s, " +
      "MIN(id) AS lo, MAX(id) AS hi FROM db.t GROUP BY category")
    def read() = sql.run("SELECT * FROM db.gmv ORDER BY category").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getInt(4))).toSeq
    assert(read() == Seq(("a", 2L, 40.0, 1, 3), ("b", 1L, 20.0, 2, 2)))
    // capture the files holding the PRE-stamp base data, then advance the
    // base by appends only
    val oldFiles = cat.loadTable("db", "t").get.filesMetadata()
      .collect().map(_.getString(0))
    sql.run("INSERT INTO db.t VALUES (4, 'a', 5.0), (5, 'c', 50.0)")
    sql.run("INSERT INTO db.t VALUES (6, 'b', 6.0)")
    // PROOF the refresh is O(increment): the stamped-era files are
    // CORRUPTED on disk (contents replaced, paths kept — the analyzer's
    // path-existence probe must still pass) — any plan that actually
    // scans the base table's old data (full recompute) would die on the
    // garbage; merging storage with agg(increment) succeeds
    oldFiles.foreach(f => java.nio.file.Files.write(
      java.nio.file.Paths.get(f), "not a parquet file".getBytes))
    val msg = sql.run("REFRESH MATERIALIZED VIEW db.gmv").head().getString(0)
    assert(msg.contains("incrementally"), msg)
    assert(read() == Seq(("a", 3L, 45.0, 1, 4), ("b", 2L, 26.0, 2, 6),
      ("c", 1L, 50.0, 5, 5)))
    // the refreshed MV is fresh again: storage fast path serves it
    assert(sql.run("REFRESH MATERIALIZED VIEW db.gmv").head().getString(0)
      .contains("(+0 rows)"))
  }

  test("incremental MV refresh maintains COUNT DISTINCT via a stored " +
    "HLL sketch column (union-of-sketches, never a rescan)") {
    val (cat, sql) = fresh(); seed(cat)
    // the mergeable carrier for COUNT DISTINCT: the MV STORES the HLL
    // sketch (BINARY column); readers extract hll_sketch_estimate
    sql.run("CREATE MATERIALIZED VIEW db.hmv AS " +
      "SELECT category, hll_sketch_agg(id) AS ids FROM db.t " +
      "GROUP BY category")
    def est() = sql.run(
      "SELECT category, hll_sketch_estimate(ids) AS nd FROM db.hmv " +
        "ORDER BY category")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(est() == Seq(("a", 2L), ("b", 1L)))
    val oldFiles = cat.loadTable("db", "t").get.filesMetadata()
      .collect().map(_.getString(0))
    // id=2 RE-appears in category b: a SUM-merged COUNT would double-
    // count it — exactly why distinct needs the sketch carrier
    sql.run("INSERT INTO db.t VALUES (4, 'a', 5.0), (2, 'b', 7.0), " +
      "(5, 'c', 50.0)")
    // O(increment) proof (gmv pattern): corrupt the stamped-era files —
    // a full recompute would die on the garbage, register-union succeeds
    oldFiles.foreach(f => java.nio.file.Files.write(
      java.nio.file.Paths.get(f), "not a parquet file".getBytes))
    val msg = sql.run("REFRESH MATERIALIZED VIEW db.hmv").head().getString(0)
    assert(msg.contains("incrementally"), msg)
    assert(est() == Seq(("a", 3L), ("b", 1L), ("c", 1L)))
    assert(sql.run("REFRESH MATERIALIZED VIEW db.hmv").head().getString(0)
      .contains("(+0 rows)"))
  }

  test("incremental MV refresh maintains JOIN views when one input " +
    "advances: SPJ appends the delta, aggregates merge") {
    val (cat, sql) = fresh(); seed(cat)
    // dim: category → label (static); fact: db.t (advances by appends)
    val dimSchema = StructType(Seq(
      StructField("category", StringType), StructField("label", StringType)))
    cat.createTable("db", "dim", dimSchema).append(spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row("a", "Alpha"), Row("b", "Beta"), Row("c", "Gamma")), 1),
      dimSchema))
    sql.run("CREATE MATERIALIZED VIEW db.jmv AS " +
      "SELECT t.id, d.label FROM db.t t JOIN db.dim d " +
      "ON t.category = d.category WHERE t.id > 1")
    sql.run("CREATE MATERIALIZED VIEW db.jamv AS " +
      "SELECT d.label, COUNT(*) AS n, SUM(t.amount) AS s FROM db.t t " +
      "JOIN db.dim d ON t.category = d.category GROUP BY d.label")
    // fact-only appends → BOTH refresh incrementally
    sql.run("INSERT INTO db.t VALUES (4, 'a', 5.0), (5, 'c', 50.0)")
    val m1 = sql.run("REFRESH MATERIALIZED VIEW db.jmv").head().getString(0)
    assert(m1.contains("incrementally (+2 rows)"), m1)
    assert(sql.run("SELECT * FROM db.jmv ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((2, "Beta"), (3, "Alpha"), (4, "Alpha"), (5, "Gamma")))
    val m2 = sql.run("REFRESH MATERIALIZED VIEW db.jamv").head().getString(0)
    assert(m2.contains("incrementally"), m2)
    assert(sql.run("SELECT * FROM db.jamv ORDER BY label").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("Alpha", 3L, 45.0), ("Beta", 1L, 20.0), ("Gamma", 1L, 50.0)))
    // a DIM change is not linear-in-one-input: full recompute, correct
    sql.run("INSERT INTO db.dim VALUES ('d', 'Delta')")
    sql.run("INSERT INTO db.t VALUES (6, 'd', 60.0)")
    val m3 = sql.run("REFRESH MATERIALIZED VIEW db.jmv").head().getString(0)
    assert(m3.contains("full recompute"), m3)
    assert(sql.run("SELECT * FROM db.jmv WHERE id = 6").head().getString(1)
      == "Delta")
  }

  test("join-MV safety rails: advanced-side self-joins and the " +
    "null-extended side of an outer join refresh by full recompute") {
    val (cat, sql) = fresh(); seed(cat)
    // self-join of the ADVANCED table: (F∪Δ)⋈(F∪Δ) is quadratic in Δ
    sql.run("CREATE MATERIALIZED VIEW db.sj AS " +
      "SELECT a.id, b.id AS bid FROM db.t a JOIN db.t b " +
      "ON a.category = b.category WHERE a.id < b.id")
    sql.run("INSERT INTO db.t VALUES (7, 'a', 7.0)")
    val m1 = sql.run("REFRESH MATERIALIZED VIEW db.sj").head().getString(0)
    assert(m1.contains("full recompute"), m1)
    // pairs among old rows AND with the new row must both be present
    assert(sql.run("SELECT * FROM db.sj ORDER BY id, bid").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 3), (1, 7), (3, 7)))
    // advanced table on the null-EXTENDED side: a dim LEFT JOIN fact MV
    // would retro-change old dim rows' nulls when the fact grows
    val dimSchema = StructType(Seq(
      StructField("category", StringType), StructField("label", StringType)))
    cat.createTable("db", "dim2", dimSchema).append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a", "A"), Row("z", "Z")), 1),
      dimSchema))
    sql.run("CREATE MATERIALIZED VIEW db.lj AS " +
      "SELECT d.label, t.id FROM db.dim2 d LEFT JOIN db.t t " +
      "ON d.category = t.category")
    sql.run("INSERT INTO db.t VALUES (8, 'z', 8.0)")
    val m2 = sql.run("REFRESH MATERIALIZED VIEW db.lj").head().getString(0)
    assert(m2.contains("full recompute"), m2)
    // the pre-refresh NULL row for 'z' must be replaced, not appended to
    assert(sql.run("SELECT * FROM db.lj WHERE label = 'Z'").collect()
      .map(r => Option(r.get(1))).toSeq == Seq(Some(8)))
  }

  test("incremental MV refresh maintains SELECT DISTINCT as a merge") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE MATERIALIZED VIEW db.dmv AS " +
      "SELECT DISTINCT category FROM db.t")
    sql.run("INSERT INTO db.t VALUES (7, 'a', 1.0), (8, 'd', 2.0)")
    val msg = sql.run("REFRESH MATERIALIZED VIEW db.dmv").head().getString(0)
    assert(msg.contains("incrementally"), msg)
    assert(sql.run("SELECT * FROM db.dmv ORDER BY category").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b", "d"))
    val st = cat.loadTable("db", "__mv_dmv").get
    assert(st.read().count() == 3, "merge must keep the distinct set exact")
  }

  test("an MV over an un-pinnable relation is never served from storage") {
    val (cat, sql) = fresh(); seed(cat)
    // a session temp view is a moving source the lake catalog cannot
    // snapshot-pin: the dep must record as EXTERNAL → permanently stale
    spark.range(0, 3).toDF("x").createOrReplaceTempView("ext_src")
    try {
      sql.run("CREATE MATERIALIZED VIEW db.xmv AS " +
        "SELECT COUNT(*) AS n FROM ext_src")
      assert(cat.viewInfo("db", "xmv").get.props("deps")
        .endsWith("=EXTERNAL"))
      // anomaly injection (same device as the freshness test): a row
      // planted in storage is visible ONLY if reads serve storage — an
      // EXTERNAL-dep MV must re-run the definition instead
      cat.loadTable("db", "__mv_xmv").get.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(99L)), 1),
        StructType(Seq(StructField("n", LongType)))))
      assert(sql.run("SELECT * FROM db.xmv").collect()
        .map(_.getLong(0)).toSeq == Seq(3L),
        "EXTERNAL-dep MV must expand live, not serve storage")
      // the un-pinnable source moved: live expansion tracks it
      spark.range(0, 5).toDF("x").createOrReplaceTempView("ext_src")
      assert(sql.run("SELECT * FROM db.xmv").head().getLong(0) == 5L)
    } finally spark.catalog.dropTempView("ext_src")
  }

  test("metadata-table and time-travel MVs refresh by full recompute, " +
    "not an analysis error") {
    val (cat, sql) = fresh(); seed(cat)
    // metadata-table spelling: the leaf expands to db__t__files_sN — the
    // incremental gate must reject it (a textual rewrite would produce
    // `tmp.files`), falling back to the full path
    sql.run("CREATE MATERIALIZED VIEW db.fmv AS " +
      "SELECT COUNT(*) AS n FROM db.t.files")
    val pin = cat.loadTable("db", "t").get.currentSnapshot.get.id
    sql.run("CREATE MATERIALIZED VIEW db.tmv AS " +
      s"SELECT COUNT(*) AS n FROM db.t VERSION AS OF $pin")
    sql.run("INSERT INTO db.t VALUES (9, 'e', 90.0)") // append-only advance
    val m1 = sql.run("REFRESH MATERIALIZED VIEW db.fmv").head().getString(0)
    assert(m1.contains("full recompute"), m1)
    assert(sql.run("SELECT * FROM db.fmv").head().getLong(0) == 2L)
    val m2 = sql.run("REFRESH MATERIALIZED VIEW db.tmv").head().getString(0)
    assert(m2.contains("full recompute"), m2)
    // pinned at the original snapshot: still 3 rows after the append
    assert(sql.run("SELECT * FROM db.tmv").head().getLong(0) == 3L)
  }

  test("DESCRIBE works on views and reports the definition") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE VIEW db.dv2 AS SELECT id, category FROM db.t")
    val d = sql.run("DESCRIBE db.dv2").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("id") == "int" && d("category") == "string")
    assert(d("# view_text").contains("FROM db.t"))
    assert(d("# materialized") == "false")
  }

  test("replacing a materialized view with a plain one reclaims storage") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE MATERIALIZED VIEW db.rv AS SELECT id FROM db.t")
    assert(cat.tableExists("db", "__mv_rv"))
    sql.run("CREATE OR REPLACE VIEW db.rv AS SELECT id FROM db.t WHERE id > 1")
    assert(!cat.tableExists("db", "__mv_rv"), "orphaned MV storage table")
    assert(sql.run("SELECT * FROM db.rv ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 3))
  }

  test("materialized view on a view is permanently stale (conservative)") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE VIEW db.base AS SELECT id FROM db.t WHERE id > 1")
    sql.run("CREATE MATERIALIZED VIEW db.mv2 AS SELECT COUNT(*) AS n FROM db.base")
    // a view dep has no snapshot to pin: reads always take the live path
    assert(sql.run("SELECT * FROM db.mv2").head().getLong(0) == 2L)
    sql.run("INSERT INTO db.t VALUES (7, 'c', 70.0)")
    assert(sql.run("SELECT * FROM db.mv2").head().getLong(0) == 3L,
      "view-dependent MV must re-run live")
  }

  test("dispatcher-created views read natively as lake.db.v") {
    val (cat, sql) = fresh(); seed(cat)
    sql.run("CREATE VIEW db.dv AS SELECT id FROM db.t WHERE category = 'a'")
    val got = spark.sql("SELECT * FROM lake.db.dv ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 3))
    // late binding on the native route too
    sql.run("INSERT INTO db.t VALUES (9, 'a', 90.0)")
    val got2 = spark.sql("SELECT * FROM lake.db.dv ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(got2 == Seq(1, 3, 9))
    // joins across a native view and a native table plan fine
    val j = spark.sql(
      """SELECT v.id FROM lake.db.dv v JOIN lake.db.t t ON v.id = t.id
         WHERE t.amount > 20 ORDER BY v.id""").collect().map(_.getInt(0)).toSeq
    assert(j == Seq(3, 9))
  }

  test("incremental MV over a MAINTAINED index table (VERDICT r17 #7): " +
    "equality-delete and replaceByKey maintenance commits force the " +
    "full-recompute path — never stale rows — while pure appends stay " +
    "incremental") {
    val wh = Files.createTempDirectory("graft-mvmaint-wh")
    val cat = new LakeCatalog(spark, wh)
    val sql = new LakeSql(cat)
    cat.createNamespace("nd")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    def docs(rs: (Long, String)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rs.map { case (i, t) => Row(i, t) }, 1),
        docSchema)
    def words(tag: String): String =
      (0 until 60).map(i => s"$tag$i").mkString(" ")
    graft.operators.StandingState.provisionNearDupState(cat, "nd", docSchema,
      docs(1L -> words("aa"), 2L -> words("bb")))

    // a selection/projection MV over the postings index — the shape a
    // serving layer keeps next to the dedup state
    sql.run("CREATE MATERIALIZED VIEW nd.pmv AS " +
      "SELECT doc_id, h FROM nd.postings")
    def mvDocs(): Set[Long] = sql.run("SELECT * FROM nd.pmv").collect()
      .map(_.getLong(0)).toSet
    assert(mvDocs() == Set(1L, 2L))

    // append-only growth (a new doc's posting rows) stays incremental
    val head = graft.operators.StandingState.loadHead(spark, cat, "nd")
    val sh3 = graft.operators.PrefixIndex.shingled(docs(3L -> words("cc")))
    cat.loadTable("nd", "postings").get.append(
      graft.operators.PrefixIndex.postings(
        graft.operators.PrefixIndex.hashed(sh3), head))
    val m1 = sql.run("REFRESH MATERIALIZED VIEW nd.pmv").head().getString(0)
    assert(m1.contains("incrementally"), m1)
    assert(mvDocs() == Set(1L, 2L, 3L))

    // RETIRE maintenance mints an equality delete → the append-only
    // walk must reject the commit and take the full path, and the MV
    // must not serve the retired doc's rows
    graft.operators.IndexMaintenance.retireDocs(cat, "nd",
      docs(2L -> "").select("doc_id"))
    val m2 = sql.run("REFRESH MATERIALIZED VIEW nd.pmv").head().getString(0)
    assert(m2.contains("full recompute"), m2)
    assert(mvDocs() == Set(1L, 3L), s"retired rows must leave the MV: ${mvDocs()}")

    // RECRAWL maintenance (replaceByKey upsert commits) → full path,
    // and the MV serves exactly the rebuilt rows
    graft.operators.IndexMaintenance.recrawlDocs(cat, "nd",
      docs(1L -> words("zz")))
    val m3 = sql.run("REFRESH MATERIALIZED VIEW nd.pmv").head().getString(0)
    assert(m3.contains("full recompute"), m3)
    val expect = cat.loadTable("nd", "postings").get.read()
      .select("doc_id", "h").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = sql.run("SELECT * FROM nd.pmv").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, "MV must equal the maintained index exactly")
  }
}
