package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Manifests
import graft.model.Manifests.{CollectionExport, DatasetTypeExport, ExportIndex}
import graft.ops.Windows
import graft.model.Tables

/** The Exporter-shaped pipeline (reference exporter.py:33-167 /
  * export_dp1.py:65-125), Spark-first:
  *
  *  - one scan per dataset type, find_first dedup by collection-chain
  *    priority as a window (not a post-filter) — exporter.py:75-87;
  *  - dimension records fan out from the same refs and are deduped by
  *    data-ID subset — dimension_record_parquet.py:48-58 did this in a
  *    whole-file pandas pass; dropDuplicates shuffles and scales;
  *  - datastore rows are first-datastore-wins deduped —
  *    datastore_parquet.py:66-76;
  *  - every table is sorted before write for Parquet compressibility
  *    (write policy X6: exporter.py:90-92,137-140);
  *  - manifests (index/dataset_types/collections) are driver-side JSON.
  *
  * Scale posture: the per-type loop is over the *catalog* (~40 types in
  * the reference), not the data; each iteration is one distributed
  * plan. Sorting uses sortWithinPartitions (no global shuffle) — the
  * compressibility win is per-file, matching the reference's
  * per-batch sort.
  */
object Export {

  /** One dataset type to export: refs carry (dataset_id, run,
    * collection, data-ID columns, optional timespan).
    */
  case class DatasetTypeInput(
      name: String,
      storageClass: String,
      refs: DataFrame,
      dataIdColumns: Seq[String],
      findFirst: Boolean) // false for calibrations (exporter.py:81-84)

  /** One dimension: records + its primary-key column subset. */
  case class DimensionInput(
      name: String,
      records: DataFrame,
      keyColumns: Seq[String])

  /** Phase-2 export (export_dp1.py:97-125): some dimension families are not
    * referenced by any dataset data ID and must be constrained by the keys of
    * a dimension that WAS exported. The reference re-reads the written visit
    * parquet column-pruned to (instrument, id) and feeds 50k-row batches back
    * into registry queries; in Spark the batching loop collapses to one
    * broadcast semi-join against the pruned re-read.
    */
  case class DimensionExpansion(
      sourceDimension: String, // already-written dimension to re-read
      sourceKeys: Seq[String], // pruned read columns, e.g. (instrument, id)
      target: DimensionInput, // e.g. visit_definition
      targetJoinColumns: Seq[String]) // target cols matching sourceKeys 1:1

  def run(
      outDir: String,
      types: Seq[DatasetTypeInput],
      dimensions: Seq[DimensionInput],
      datastore: DataFrame, // datastore_name, priority, dataset_id, path, ...
      collections: Seq[CollectionExport],
      rootCollection: String,
      expansions: Seq[DimensionExpansion] = Nil): Unit = {

    // write-once guard (exporter.py:42-45): each dataset type / dimension
    // may be exported exactly once — catch catalog mistakes before any write
    val dupTypes = types.map(_.name).diff(types.map(_.name).distinct)
    require(dupTypes.isEmpty, s"dataset type exported twice: ${dupTypes.distinct.mkString(", ")}")
    val dimNames = dimensions.map(_.name) ++ expansions.map(_.target.name)
    val dupDims = dimNames.diff(dimNames.distinct)
    require(dupDims.isEmpty, s"dimension exported twice: ${dupDims.distinct.mkString(", ")}")
    // poisoned-filename guard (paths.py:20-24): names become path segments
    types.map(_.name).foreach(Manifests.requireSafeName("dataset type", _))
    dimNames.foreach(Manifests.requireSafeName("dimension", _))

    val chain = Manifests.flattenChain(collections, rootCollection)
    val priority = chain.zipWithIndex.toMap

    val exportedIdsPerType = types.map { t =>
      // collection-chain position becomes the window priority; dataset_id
      // is the determinism tiebreak (SURVEY.md §7.4.2)
      val prioCol = chain.zipWithIndex
        .foldLeft(lit(Int.MaxValue)) { case (acc, (c, i)) =>
          when(col("collection") === c, i).otherwise(acc)
        }
      val withPrio = t.refs.withColumn("__prio", prioCol)
        .filter(col("__prio") =!= Int.MaxValue) // refs outside the chain
      // persisted: consumed by three actions (dataset write, association
      // semi-join, exported-id union) — the reference streams one pass
      // per type (exporter.py:88-106); caching is Spark's equivalent
      val selected = (
        if (t.findFirst)
          Windows.findFirst(withPrio,
            keys = t.dataIdColumns.map(col),
            priority = Seq(col("__prio"), col("dataset_id")))
        else withPrio // calibrations keep every validity range
        ).persist()

      val datasetCols = Seq("dataset_id", "run") ++ t.dataIdColumns
      selected.select(datasetCols.map(col): _*)
        .sortWithinPartitions(t.dataIdColumns.map(col): _*) // X6 policy
        .write.mode("overwrite").parquet(s"$outDir/datasets/${t.name}")

      // associations: dataset <-> collection membership incl. timespan,
      // only for released (selected) datasets (exporter.py:136-140)
      val assocCols = datasetCols ++ Seq("collection") ++
        (if (t.refs.columns.contains("timespan")) Seq("timespan") else Nil)
      t.refs.join(selected.select("dataset_id"), Seq("dataset_id"), "left_semi")
        .select(assocCols.map(col): _*)
        .sortWithinPartitions(("collection" +: t.dataIdColumns).map(col): _*)
        .write.mode("overwrite").parquet(s"$outDir/associations/${t.name}")

      t.name -> selected
    }

    // dimension records: dedup on the key subset, sort low-to-high
    // cardinality (dimension_record_parquet.py:48-58)
    dimensions.foreach { d =>
      d.records.dropDuplicates(d.keyColumns)
        .sortWithinPartitions(d.keyColumns.map(col): _*)
        .write.mode("overwrite").parquet(s"$outDir/dimensions/${d.name}")
    }

    // phase 2 (export_dp1.py:97-125): constrain "populated_by" dimension
    // families by the keys of an already-written dimension. Re-read the
    // WRITTEN parquet (not the in-memory frame) column-pruned to the keys —
    // the scan's ReadSchema carries only the key columns — then semi-join.
    // No forced broadcast: the key projection is usually small enough that
    // the optimizer broadcasts it from the pruned-scan stats, but a source
    // dimension CAN be huge at full scale (the reference batches at 50k for
    // exactly that reason) and a forced hint would bypass
    // autoBroadcastJoinThreshold and OOM; a shuffled semi-join is the
    // correct degradation. An expansion target counts as written for later
    // expansions' source check (and for the index) — one accumulated set,
    // so the two can't drift.
    val writtenDims = scala.collection.mutable.LinkedHashSet(dimensions.map(_.name): _*)
    val writtenExpansions = scala.collection.mutable.ArrayBuffer[String]()
    expansions.foreach { e =>
      // mirror _read_referenced_visits: skip if the source was not exported
      if (writtenDims.contains(e.sourceDimension)) {
        require(e.sourceKeys.size == e.targetJoinColumns.size,
          s"expansion ${e.target.name}: key arity mismatch")
        val spark = e.target.records.sparkSession
        val keys = Tables.parquet(spark,
            s"$outDir/dimensions/${e.sourceDimension}")
          .select(e.sourceKeys.map(col): _*).distinct()
        val cond = e.targetJoinColumns.zip(e.sourceKeys)
          .map { case (t, s) => e.target.records(t) === keys(s) }
          .reduce(_ && _)
        e.target.records.join(keys, cond, "left_semi")
          .dropDuplicates(e.target.keyColumns)
          .sortWithinPartitions(e.target.keyColumns.map(col): _*)
          .write.mode("overwrite").parquet(s"$outDir/dimensions/${e.target.name}")
        writtenDims += e.target.name
        writtenExpansions += e.target.name
      } else {
        System.err.println(
          s"[graft.etl.Export] skipping expansion ${e.target.name}: " +
            s"source dimension ${e.sourceDimension} was not exported")
      }
    }

    // datastore: only exported datasets, first-datastore-wins
    // (datastore_parquet.py:41-44,66-76)
    val allExported = exportedIdsPerType
      .map(_._2.select("dataset_id")).reduce(_ unionAll _).distinct()
    Windows.firstWins(
      datastore.join(allExported, Seq("dataset_id"), "left_semi"),
      keys = Seq(col("dataset_id")),
      priority = Seq(col("priority"), col("datastore_name")))
      .write.mode("overwrite").parquet(s"$outDir/datastore")

    exportedIdsPerType.foreach(_._2.unpersist())

    Manifests.writeJson(s"$outDir/index.json",
      ExportIndex(dimensions.map(_.name) ++ writtenExpansions,
        types.map(_.name), rootCollection))
    Manifests.writeJson(s"$outDir/dataset_types.json",
      types.map(t => DatasetTypeExport(t.name, t.dataIdColumns, t.storageClass)))
    Manifests.writeJson(s"$outDir/collections.json", collections)
    // reference layout writes the chain as YAML (exporter.py:160-167)
    Manifests.writeCollectionsYaml(s"$outDir/collections.yaml", collections)
  }
}
