package graft.lake

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Spark-native session integration (SparkSessionExtensions): registers
  * the `cosine_sim(a, b)` SQL function (X1) from the same composition
  * the DataFrame API uses. Table resolution for `lake.db.t` /
  * `glue_catalog.db.t` goes through the DSv2 catalog
  * ([[LakeSparkCatalog]]), the mechanism Spark actually consults for
  * multi-part names.
  *
  * Activate with `.config("spark.sql.extensions", "graft.lake.LakeExtensions")`
  * and point `spark.graft.warehouse` at the warehouse root.
  */
class LakeExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    SparkSeams.check() // warn once if the runtime isn't the pinned minor
    ext.injectFunction(LakeExtensions.cosineSim)
    // SELECTs on lake.db.t run on LakeTable.read()'s native plan
    // (vectorized + codegen) instead of the V1Scan row bridge
    ext.injectOptimizerRule(NativeReadRule)
    // NOTE: bridged-scan stats (V1StatsRule, M50) are NOT injectable
    // here — every extension optimizer hook (including preCBO) runs
    // BEFORE V2ScanRelationPushDown creates the V1ScanWrapper it must
    // rewrite; the rule installs into experimental.extraOptimizations
    // (the last optimizer batch) from the session surfaces instead.
  }
}

object LakeExtensions {
  val WarehouseConf = "spark.graft.warehouse"

  /** Optional session principal for direct `spark.sql` users of the
    * DSv2 path: when set, the table grants model (M10,
    * lake_formation_setup.py:93-145) gates native `lake.db.t` reads and
    * writes; unset, the registered catalog is administrative. A
    * [[LakeSql.run]] statement checks its own principal instead. */
  val PrincipalConf = "spark.graft.principal"

  /** The codegen'd fused-loop cosine expression — the same node the
    * DataFrame API (VectorOps.cosine) plans. */
  private[lake] val cosineSim: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[LakeExtensions].getName, "cosine_sim"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "cosine_sim(a, b) takes two array arguments")
      graft.functions.CosineSimilarity.coerced(args(0), args(1))
    })
}


/** The uniform session-principal grants rule (M27), shared by every
  * native surface — scan splice, DSv2 scan/write builders, metadata
  * tables, procedures. ONE definition, so a change to grant semantics
  * (a new grant kind, the ALL rule, the principal source) cannot
  * silently diverge between gates. */
private[lake] object Grants {

  /** Core rule: the principal needs ALL or `perm` on the table. */
  def check(principal: String, held: Seq[String], perm: String, name: String): Unit =
    if (!held.contains("ALL") && !held.contains(perm))
      throw new AccessDeniedException(s"principal $principal lacks $perm on $name")

  /** The principal a gate checks: the one a running [[LakeSql.run]]
    * statement pinned (None = administrative), else the session's
    * [[LakeExtensions.PrincipalConf]]; unset → unrestricted. */
  def principal(session: org.apache.spark.sql.SparkSession): Option[String] =
    LakeSql.pinned match {
      case Some(pin) => pin.principal
      case None => session.conf.getOption(LakeExtensions.PrincipalConf)
    }

  def require(session: org.apache.spark.sql.SparkSession,
      t: LakeTable, perm: String): Unit =
    require(principal(session), t, perm)

  def require(principal: Option[String], t: LakeTable, perm: String): Unit =
    principal.foreach { p =>
      check(p, t.meta.grants.getOrElse(p, Nil), perm, t.name)
    }
}
