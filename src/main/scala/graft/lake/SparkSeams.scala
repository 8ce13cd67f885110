package graft.lake

import org.apache.spark.internal.Logging

/** Registry of every DELIBERATE dependency this engine takes on
  * Spark-internal (non-`@Stable`) API, pinned against **Spark 4.1.2**
  * (VERDICT r10 #6: each seam must name the API it pins so a Spark-minor
  * bump has a checklist instead of a surprise). Everything else in the
  * engine uses only the stable DataFrame/Dataset, DSv2 connector, and
  * `SparkSessionExtensions` surfaces.
  *
  * The seams, each documented in place at its use site:
  *
  *  1. **`org.apache.spark.sql.graft.ColumnBridge`** — pins
  *     `org.apache.spark.sql.classic.ExpressionColumnNode(expr)`,
  *     `classic.SparkSession#expression(Column)` and
  *     `classic.Dataset.ofRows(session, plan)` (all `private[sql]`
  *     since Spark 4.0 split the classic module out of the api module).
  *     Hosting a shim inside `org.apache.spark.sql` is the established
  *     pattern for catalyst-extension libraries. Breakage mode: compile
  *     error in `ColumnBridge.scala` (constructor moved/renamed).
  *
  *  2. **`V1StatsRule` / `StatsV1ScanWrapper`** — pins the case-class
  *     SHAPE of `execution.datasources.v2.V1ScanWrapper(v1Scan,
  *     handledFilters, pushedDownOperators)` (subclassed so the physical
  *     strategy's `case V1ScanWrapper(...)` still extracts) and the
  *     optimizer-batch ORDER ("User Provided Optimizers" runs after
  *     V2ScanRelationPushDown). Breakage modes: compile error on a field
  *     change; silently-lost stats if the batch order moves —
  *     TableStatsSpec's SMJ→BHJ flip assertion is the canary.
  *
  *  3. **`NativeReadRule`** — pins
  *     `execution.datasources.v2.{DataSourceV2Relation,
  *     DataSourceV2ScanRelation}` tree shapes for the scan splice.
  *     These are `DeveloperApi`-adjacent but live in `execution`;
  *     ExtensionsSpec's plan asserts are the canary.
  *
  *  4. **`LakeRowLevelOps`** — pins
  *     `execution.datasources.parquet.ParquetWriteSupport` (and its
  *     `setSchema(schema, conf)` contract) for executor-side parquet
  *     encoding that matches Spark's own writes byte-for-byte.
  *     Breakage mode: compile error, or golden-file drift caught by
  *     LakeTableSpec round-trips.
  *
  *  5. **`LakeStreamSource`** — pins the V1 streaming SPI
  *     (`execution.streaming.{Source, Sink}`,
  *     `execution.streaming.runtime.LongOffset`) and the
  *     `LogicalRelation.isStreaming` flip for batch-plan reuse. The V1
  *     SPI is internal but is the only seam that allows a self-contained
  *     stream source without a DSv2 `MicroBatchStream` registration
  *     lookup; StreamingSpec end-to-end runs are the canary.
  *
  *  6. **`MetricsWarn`** — pins `execution.QueryExecution` as the
  *     payload type of the stable `QueryExecutionListener` callback
  *     (reads only its public `observedMetrics`).
  *
  *  7. **`LakeFileIndex`** — pins `execution.datasources.{FileIndex,
  *     HadoopFsRelation, PartitionDirectory, FileStatusWithMetadata}`:
  *     every lake scan is a `HadoopFsRelation` over a file index built
  *     from table metadata (recorded sizes, no listing), wrapped by the
  *     public `SparkSession.baseRelationToDataFrame`. Breakage modes:
  *     compile error on a signature change; a listing job or a changed
  *     `_metadata.file_path` / `inputFiles` if the relation's contract
  *     drifts. Canaries: LakeTableSpec's job-count tests (building a MoR
  *     read, a MoR DELETE); the `inputFiles` pruning asserts in
  *     LakeTableSpec, SchemaEvolutionSpec and AddFilesSpec;
  *     TableStatsSpec's SMJ→BHJ flip (`sizeInBytes` now comes from
  *     recorded sizes); StreamingSpec, since seam 5's
  *     `LogicalRelation.isStreaming` flip now lands on this relation.
  *
  *  8. **`DeleteVectors.EqualityFilter`** — pins
  *     `catalyst.expressions.objects.Invoke` over a `Literal` of
  *     `ObjectType`: the within-budget equality-delete filter calls the
  *     filter object's methods from generated code, with arguments in
  *     Catalyst's internal form (`InternalRow`, `UTF8String`) found by
  *     reflection. Breakage modes: compile error on a constructor change;
  *     a method-lookup failure at analysis if argument classes change.
  *     Canary: EqualityDeleteSpec (every case reads both ways).
  *
  *  9. **`LakeTable`'s DML** — pins the Catalyst row-level command
  *     constructors `catalyst.plans.logical.{DeleteFromTable,
  *     UpdateTable, MergeIntoTable(…, withSchemaEvolution), Assignment,
  *     UpdateAction(…, fromStar), DeleteAction, InsertAction,
  *     InsertStarAction, SubqueryAlias}` and
  *     `DataSourceV2Relation.create(table, None, None)`: `delete`,
  *     `update` and `mergeClauses` build the commands SQL DML parses to,
  *     over the handle's own table. [[NativeReadRule]]'s MERGE scope
  *     also reads `ReplaceData.groupFilterCondition` (the rewrite's
  *     `EXISTS` group filter). Breakage modes: compile error on a
  *     constructor change; a CoW MERGE rewriting every scoped file if the
  *     group filter's shape changes. Canaries: LakeTableSpec (job counts,
  *     CoW MERGE carry-over, branch DML), DmlModelSpec.
  *
  * [[check]] logs one WARN when the running Spark is not the pinned
  * minor — cheap early signal that the nine canaries above deserve a
  * look before trusting a new runtime. */
object SparkSeams extends Logging {
  /** Spark minor these seams were written and tested against. */
  final val PinnedMinor = "4.1"

  @volatile private var warned = false

  def check(): Unit = {
    val v = org.apache.spark.SPARK_VERSION
    if (!v.startsWith(PinnedMinor + ".") && !warned) {
      warned = true
      logWarning(
        s"graft's Spark-internal seams are pinned to Spark $PinnedMinor.x " +
          s"but this runtime is $v — run the seam canaries (TableStatsSpec, " +
          "ExtensionsSpec, StreamingSpec, LakeTableSpec, SchemaEvolutionSpec, " +
          "AddFilesSpec, EqualityDeleteSpec, DmlModelSpec) before trusting it; " +
          "see graft.lake.SparkSeams for the seam inventory")
    }
  }
}
