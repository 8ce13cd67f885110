package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Property-style differential test (SURVEY.md §5.2-3): random
  * insert/delete/update sequences applied to a LakeTable must equal the
  * same sequence applied to an in-memory multiset model, in both MoR and
  * CoW write modes — and the table state must be invariant under
  * compaction and v2→v3 upgrade at every checkpoint. Seeded, so failures
  * reproduce. */
class DmlModelSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("category", StringType),
    StructField("amount", DoubleType)))

  private type ModelRow = (Int, String, Double)

  private def toDf(rows: Seq[ModelRow]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, c, a) => Row(i, c, a) }, 1),
      schema)

  private def observed(t: LakeTable): Seq[ModelRow] =
    t.read().collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq.sorted

  test("random DML ≡ in-memory model; invariant under compact + upgrade") {
    val cats = Array("a", "b", "c")
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(42 + trial)
      val mor = trial % 2 == 0
      val wh = Files.createTempDirectory(s"graft-prop-$trial")
      val cat = new LakeCatalog(spark, wh)
      cat.createNamespace("db")
      val props = if (mor) Map(
        "write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read") else Map.empty[String, String]
      var table = cat.createTable("db", "t", schema, Seq("category"), props)
      var model = Vector.empty[ModelRow]
      var nextId = 0

      for (step <- 0 until 10) {
        rnd.nextInt(9) match {
          case 0 => // insert 1-4 rows (ids may repeat: no PK semantics)
            val rows = (0 until 1 + rnd.nextInt(4)).map { _ =>
              val id = if (rnd.nextBoolean() || nextId == 0) { nextId += 1; nextId }
                else 1 + rnd.nextInt(nextId)
              (id, cats(rnd.nextInt(3)), (rnd.nextInt(1000) + 1).toDouble)
            }
            table = table.append(toDf(rows))
            model = model ++ rows
          case 1 => // delete by id threshold or category
            if (rnd.nextBoolean()) {
              val cut = 1 + rnd.nextInt(math.max(nextId, 1))
              table = table.delete(col("id") <= cut)
              model = model.filterNot(_._1 <= cut)
            } else {
              val c = cats(rnd.nextInt(3))
              // half the deletes arrive as SQL through spark.sql, half
              // as LakeTable.delete — both plan the same row-level
              // command, and the model stays the reference for each:
              // MoR → WriteDelta, CoW → group-based ReplaceData
              // (partition-split writers + scope pruning, since this
              // table partitions by category)
              if (rnd.nextBoolean()) {
                spark.conf.set(LakeExtensions.WarehouseConf, wh.toString)
                spark.sql(s"DELETE FROM lake.db.t WHERE category = '$c'")
                table = table.reloaded()
              } else table = table.delete(col("category") === c)
              model = model.filterNot(_._2 == c)
            }
          case 2 => // update amount where category matches
            val c = cats(rnd.nextInt(3))
            if (rnd.nextBoolean()) { // native on BOTH modes (CoW → ReplaceData)
              spark.conf.set(LakeExtensions.WarehouseConf, wh.toString)
              spark.sql(
                s"UPDATE lake.db.t SET amount = amount + 1000.0 WHERE category = '$c'")
              table = table.reloaded()
            } else table = table.update(
              Map("amount" -> (col("amount") + 1000.0)), col("category") === c)
            model = model.map(r => if (r._2 == c) r.copy(_3 = r._3 + 1000.0) else r)
          case 3 => // equality delete on a present-or-absent id (older-files rule:
            // all currently visible rows predate this delete; later
            // re-inserts of the id must survive — the model handles that
            // naturally by only filtering current state)
            val id = 1 + rnd.nextInt(math.max(nextId, 1))
            table = table.addEqualityDeletes(toDf(Seq((id, "x", 0.0))).select("id"), Seq("id"))
            model = model.filterNot(_._1 == id)
          case 4 => // maintenance mid-sequence must be invisible to queries
            if (rnd.nextBoolean()) {
              val opts = if (rnd.nextBoolean()) Map("rewrite-all" -> "true")
                else Map("delete-file-threshold" -> "1")
              table = Procedures.rewriteDataFiles(table, opts).table
            } else table = Procedures.upgradeFormatVersion(table)
          case 5 => // MERGE upsert on id (unique source keys by construction)
            val srcIds = (0 until 1 + rnd.nextInt(3)).map { _ =>
              if (rnd.nextBoolean() && nextId > 0) 1 + rnd.nextInt(nextId)
              else { nextId += 1; nextId }
            }.distinct
            val srcRows = srcIds.map(id =>
              (id, cats(rnd.nextInt(3)), (rnd.nextInt(1000) + 1).toDouble))
            if (rnd.nextBoolean()) {
              table = table.merge(toDf(srcRows), col("t.id") === col("s.id"),
                Some(MergeMatched.Update(Map(
                  "category" -> col("s.category"), "amount" -> col("s.amount")))),
                insertNotMatched = true)
              // model: every row with a matched id takes the source values
              // (ids may be duplicated in the table — all copies update);
              // unmatched source rows insert
              val byId = srcRows.map(r => r._1 -> r).toMap
              val matchedIds = model.map(_._1).toSet
              model = model.map(r => byId.getOrElse(r._1, r)) ++
                srcRows.filterNot(r => matchedIds.contains(r._1))
            } else {
              // multi-clause conditional merge (r10): cheap source rows
              // DELETE their matches, the rest UPDATE (clause order
              // first-wins), inserts gated on amount > 50 — fuzzes the
              // clause dispatch against the same model on BOTH write
              // modes
              table = table.mergeClauses(toDf(srcRows),
                col("t.id") === col("s.id"),
                Seq(
                  MergeWhenMatched(Some(col("s.amount") < 300.0),
                    MergeMatched.Delete),
                  MergeWhenMatched(None, MergeMatched.Update(Map(
                    "category" -> col("s.category"),
                    "amount" -> col("s.amount"))))),
                Some(MergeWhenNotMatched(Some(col("s.amount") > 50.0), None)))
              val byId = srcRows.map(r => r._1 -> r).toMap
              val matchedIds = model.map(_._1).toSet
              model = model.flatMap { r =>
                byId.get(r._1) match {
                  case Some(srcR) =>
                    if (srcR._3 < 300.0) None else Some(srcR)
                  case None => Some(r)
                }
              } ++ srcRows.filterNot(r => matchedIds.contains(r._1))
                .filter(_._3 > 50.0)
            }
          case 6 => // INSERT OVERWRITE: live state becomes exactly the new rows
            val prevModel = model
            val prevSnap = table.currentSnapshot.map(_.id)
            val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
              { nextId += 1 }
              (nextId, cats(rnd.nextInt(3)), (rnd.nextInt(1000) + 1).toDouble)
            }
            table = table.overwrite(toDf(rows))
            model = rows.toVector
            // the replaced state stays time-travelable
            prevSnap.foreach { id =>
              val past = table.readSnapshot(id).collect()
                .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq.sorted
              assert(past == prevModel.sorted,
                s"trial=$trial step=$step: overwrite broke time travel")
            }
          case 7 => // dynamic partition overwrite OR truncate: dynamic
            // replaces exactly the partitions the batch touches (M43);
            // rows of untouched categories must survive byte-identically
            if (rnd.nextBoolean()) {
              val touched = (0 until 1 + rnd.nextInt(2))
                .map(_ => cats(rnd.nextInt(3))).distinct
              val rows = touched.flatMap { c =>
                (0 until 1 + rnd.nextInt(2)).map { _ =>
                  nextId += 1
                  (nextId, c, (rnd.nextInt(1000) + 1).toDouble)
                }
              }
              table = table.overwriteDynamic(toDf(rows))
              model = model.filterNot(r => touched.contains(r._2)) ++ rows
            } else {
              table = table.truncate()
              model = Vector.empty
            }
          case 8 => // equality upsert by id (unique source keys): every
            // older copy of a key disappears, the new row lands — one
            // commit, no target read (M31)
            val srcIds = (0 until 1 + rnd.nextInt(3)).map { _ =>
              if (rnd.nextBoolean() && nextId > 0) 1 + rnd.nextInt(nextId)
              else { nextId += 1; nextId }
            }.distinct
            val srcRows = srcIds.map(id =>
              (id, cats(rnd.nextInt(3)), (rnd.nextInt(1000) + 1).toDouble))
            if (mor) {
              table = table.upsertByKey(toDf(srcRows), Seq("id"))
              model = model.filterNot(r => srcIds.contains(r._1)) ++ srcRows
            } else {
              // CoW tables must never mint delete files: the guard throws
              // and the table is untouched (model unchanged). The rnd
              // draws above still happen, keeping the trial's op sequence
              // identical to the MoR twin's.
              intercept[IllegalStateException] {
                table.upsertByKey(toDf(srcRows), Seq("id"))
              }
            }
        }
        assert(observed(table) == model.sorted,
          s"trial=$trial mor=$mor step=$step: table != model")
      }

      // maintenance invariance at the final state
      val compacted = Procedures.rewriteDataFiles(table,
        Map("rewrite-all" -> "true")).table
      assert(observed(compacted) == model.sorted, s"trial=$trial compact changed state")
      assert(compacted.deleteFiles.isEmpty)
      val upgraded = Procedures.upgradeFormatVersion(compacted)
      assert(observed(upgraded) == model.sorted, s"trial=$trial upgrade changed state")
      // post-upgrade v3 DML keeps working
      val afterV3 = upgraded.delete(col("category") === "a")
      assert(observed(afterV3) == model.filterNot(_._2 == "a").sorted)
    }
  }
}
