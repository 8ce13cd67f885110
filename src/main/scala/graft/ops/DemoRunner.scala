package graft.ops

import graft.lake.LakeSql

final case class DemoStep(name: String, ok: Boolean, detail: String)

final case class DemoReport(steps: Seq[DemoStep]) {
  def ok: Boolean = steps.forall(_.ok)
  def render: String = steps.map(s =>
    s"  ${if (s.ok) "✓" else "✗"} ${s.name}: ${s.detail.take(160)}").mkString("\n")
}

/** §3.2: the reference's E2E demo arc (/root/reference/demo.sh:50-115 +
  * internal/create_demo_table.py:97-137 + test_v3_mor_deletes.py:28-129):
  *
  *   create v2 MoR demo table → insert ×10 → MoR DELETE + UPDATE →
  *   strict reader FAILS (the "Databricks can't read v2 MoR" moment) →
  *   upgrade to v3 + compact → strict reader SUCCEEDS →
  *   new v3 MoR DELETE → still strict-readable, counts drop by 1.
  *
  * Every statement goes through [[LakeSql.run]] as a SQL string —
  * the same statement sequence the reference ships over ssh, minus the
  * ssh. */
class DemoRunner(sql: LakeSql, db: String = "demo", table: String = "v2_mor_demo") {

  private val verifier = new Verifier(sql.catalog, strict = true)
  private def fq = s"$db.$table"

  def run(): DemoReport = {
    val steps = Seq.newBuilder[DemoStep]

    def stmt(name: String, s: String): Boolean =
      try { sql.run(s); steps += DemoStep(name, ok = true, s.take(100)); true }
      catch { case e: Exception =>
        steps += DemoStep(name, ok = false,
          Option(e.getMessage).getOrElse(e.toString)); false }

    // create_demo_table.py:97-137 (fixed literal clock per FIXTURES.md)
    stmt("drop", s"DROP TABLE IF EXISTS $fq")
    stmt("create",
      s"""CREATE TABLE $fq (
            id INT, name STRING, category STRING,
            amount DECIMAL(10,2), created_at TIMESTAMP)
          PARTITIONED BY (category)
          TBLPROPERTIES (
            'format-version' = '2',
            'write.delete.mode' = 'merge-on-read',
            'write.update.mode' = 'merge-on-read')""")
    val values = graft.queries.DemoFixture.Products.map { case (id, n, c, a) =>
      s"($id, '$n', '$c', $a, TIMESTAMP '2026-01-01 00:00:00')"
    }.mkString(", ")
    stmt("insert", s"INSERT INTO $fq VALUES $values")
    stmt("mor-delete", s"DELETE FROM $fq WHERE id IN (2, 4, 6)")
    stmt("mor-update",
      s"UPDATE $fq SET amount = amount * 1.1 WHERE category = 'electronics'")

    // demo.sh:72-75 — the strict (v2-MoR-incapable) reader must fail here
    val beforeUpgrade = verifier.verify(db, table)
    steps += DemoStep("strict-read-fails-on-v2-mor", ok = !beforeUpgrade.ok,
      beforeUpgrade.probes.map(p => s"${p.name}:${if (p.ok) "ok" else p.detail}")
        .mkString(" | "))

    // demo.sh:81-84 → upgrade.sh → ALTER + compact (upgrade_table.py:121-131)
    val outcome = new Upgrader(sql).upgradeTable(db, table)
    steps += DemoStep("upgrade", outcome.ok, s"${outcome.action}: ${outcome.detail}")

    // verify_in_databricks.py:57-112 — all probes pass post-upgrade
    val afterUpgrade = verifier.verify(db, table)
    steps += DemoStep("strict-read-ok-after-upgrade", afterUpgrade.ok,
      afterUpgrade.probes.map(p => s"${p.name}:${if (p.ok) "ok" else p.detail}")
        .mkString(" | "))

    // test_v3_mor_deletes.py:37-49 — v3 MoR delete, counts drop 7 → 6
    val before = count()
    stmt("v3-mor-delete", s"DELETE FROM $fq WHERE id = 1")
    val after = count()
    steps += DemoStep("v3-delete-count", ok = before == 7 && after == 6,
      s"count before=$before after=$after")
    val finalVerify = verifier.verify(db, table)
    steps += DemoStep("strict-read-ok-after-v3-delete", finalVerify.ok,
      finalVerify.probes.map(p => s"${p.name}:${if (p.ok) "ok" else p.detail}")
        .mkString(" | "))

    DemoReport(steps.result())
  }

  private def count(): Long =
    sql.run(s"SELECT COUNT(*) AS cnt FROM $fq").head().getLong(0)
}
