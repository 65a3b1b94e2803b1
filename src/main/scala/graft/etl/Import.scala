package graft.etl

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Manifests
import graft.ops.{Aggregates, Relational}
import graft.model.Tables

/** The Importer-shaped pipeline (reference importer.py:33-126),
  * Spark-first:
  *
  *  - validate requested types against the export index (set diff,
  *    importer.py:36-41); an empty request means every exported type
  *    (importer.py:41-42);
  *  - register dataset types in the target catalog BEFORE the staged
  *    writes, mirroring "outside the transaction" (importer.py:43-48 —
  *    registration creates tables there; here it copies the schema
  *    catalog, validated against the actual dataset parquet schemas,
  *    so a target-side consumer can re-hydrate schemas the way
  *    dataset_types.py:13-15 does);
  *  - replay dimension records in topological dependency order with
  *    idempotent skip-existing inserts (anti-join — importer.py:59-71);
  *  - datasets land partitioned by run (the reference chunks by run
  *    because its API imports one run at a time, importer.py:79-97;
  *    partitionBy is the scalable equivalent);
  *  - associations route by collection type: TAGGED -> associate,
  *    CALIBRATION -> certify-with-timespan (importer.py:101-117);
  *  - datastore rows re-nest to per-dataset file-info lists
  *    (datastore_mapping.py:39-64).
  *
  * Transactionality (§7.4.4): the reference wraps import in one
  * Postgres transaction (importer.py:50-56). Spark has no multi-table
  * ACID, so the pipeline stages everything under `<target>/.staging`
  * and promotes with directory renames only after every write
  * succeeded — a crash leaves the previous target intact (weaker:
  * promotion itself is not atomic across tables; documented contract).
  */
object Import {

  case class ImportReport(
      dimensionsInserted: Map[String, Long],
      datasetRows: Map[String, Long],
      associated: Long,
      certified: Long,
      datastoreGroups: Long)

  /** @param datastoreRename source datastore name -> target name
    *        (datastore_mapping.py:47-52's DatastoreMappingFunction, the
    *        name half) applied to every record before re-nesting
    * @param pathRemap prefix rewrite rules for artifact paths (the path
    *        half of the mapping function), first matching prefix wins
    */
  def run(
      spark: SparkSession,
      exportDir: String,
      targetDir: String,
      requestedTypes: Seq[String],
      dimensionKeys: Map[String, Seq[String]],
      dimensionDeps: Map[String, Seq[String]],
      datastoreRename: Map[String, String] = Map.empty,
      pathRemap: Seq[(String, String)] = Nil): ImportReport = {

    val index = Manifests.readIndex(s"$exportDir/index.json")

    // validation: requested minus available = error; empty request =
    // everything in the export (importer.py:36-42)
    val missing = requestedTypes.toSet -- index.dataset_types.toSet
    require(missing.isEmpty, s"dataset types not in export: ${missing.mkString(", ")}")
    val effTypes = if (requestedTypes.nonEmpty) requestedTypes else index.dataset_types
    // poisoned-filename guard (paths.py:20-24): a tampered index cannot
    // make a type/dimension name escape the export or target tree
    effTypes.foreach(Manifests.requireSafeName("dataset type", _))
    index.dimensions.foreach(Manifests.requireSafeName("dimension", _))

    // every exported dimension must be importable — the reference
    // imports ALL of index.dimensions (importer.py:59-71); silently
    // skipping one the caller forgot to declare would lose data
    val ordered = Manifests.topoSortDimensions(dimensionDeps)
    val undeclared = index.dimensions.toSet -- ordered.toSet
    require(undeclared.isEmpty,
      "exported dimensions missing from dimensionDeps (would be silently " +
        s"skipped): ${undeclared.toSeq.sorted.mkString(", ")}")
    val keyless = index.dimensions.toSet -- dimensionKeys.keySet
    require(keyless.isEmpty,
      s"no key columns declared for exported dimensions: ${keyless.toSeq.sorted.mkString(", ")}")

    // dataset-type registration, BEFORE the staged "transaction"
    // (importer.py:43-48): validate each dataset parquet against the
    // exported schema catalog, then merge the imported subset into the
    // target's catalog so target-side consumers can re-hydrate schemas
    // (dataset_types.py:13-15). A re-import with a conflicting
    // definition fails, like registerDatasetType would.
    val catalog = Manifests.readDatasetTypes(s"$exportDir/dataset_types.json")
      .filter(dt => effTypes.contains(dt.name))
    val uncataloged = effTypes.toSet -- catalog.map(_.name).toSet
    require(uncataloged.isEmpty,
      s"dataset types absent from dataset_types.json: ${uncataloged.mkString(", ")}")
    catalog.foreach { dt =>
      val actual = Tables.parquet(spark, s"$exportDir/datasets/${dt.name}").columns.toSet
      val declared = Set("dataset_id", "run") ++ dt.dimensions
      require(actual == declared,
        s"dataset type ${dt.name}: parquet schema ${actual.toSeq.sorted.mkString("(", ",", ")")} " +
          s"does not match registered dimensions ${declared.toSeq.sorted.mkString("(", ",", ")")}")
    }
    registerDatasetTypes(targetDir, catalog)

    val staging = s"$targetDir/.staging"
    Files.createDirectories(Paths.get(staging))

    // dimensions in topo order, skip-existing anti-join per dimension.
    // The loop is over the catalog (dozens of dims); each step is one
    // distributed anti-join + append — never a per-record query (the
    // N+1 the reference explicitly avoids, importer.py:84-97).
    // report counts ride the write actions as observe() metrics (the
    // same in-job pattern Dedup.connectedComponents uses) — one scan
    // per table family instead of write-then-count re-reading the
    // export; the count() fallback only fires if the listener event
    // carrying the metric is lost
    val dimCounts = ordered
      .filter(index.dimensions.contains) // virtual dims have no table (importer.py:64-68)
      .map { dim =>
        val incoming = Tables.parquet(spark, s"$exportDir/dimensions/$dim")
        val targetPath = s"$targetDir/dimensions/$dim"
        val existing =
          if (Files.exists(Paths.get(targetPath)))
            Some(Tables.parquet(spark, targetPath))
          else None
        val fresh = existing
          .map(ex => Relational.antiJoin(incoming, ex, dimensionKeys(dim)))
          .getOrElse(incoming)
        val obs = org.apache.spark.sql.Observation(s"import_dim_$dim")
        val freshObs = fresh.observe(obs, count(lit(1)).as("n"))
        val merged = existing.map(_.unionByName(freshObs)).getOrElse(freshObs)
        merged.write.mode("overwrite").parquet(s"$staging/dimensions/$dim")
        dim -> observedCount(obs, fresh.count())
      }.toMap

    // datasets: partitioned by run (importer.py:79-97)
    val dsCounts = effTypes.map { t =>
      val ds = Tables.parquet(spark, s"$exportDir/datasets/$t")
      val obs = org.apache.spark.sql.Observation(s"import_ds_$t")
      ds.observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").partitionBy("run")
        .parquet(s"$staging/datasets/$t")
      t -> observedCount(obs, ds.count())
    }.toMap

    // associations routed by collection type (importer.py:101-117):
    // membership of a TAGGED collection is an associate; membership of a
    // CALIBRATION collection certifies a validity timespan
    // prefer the reference-layout YAML manifest (importer.py:51), fall back
    // to JSON for exports written before the YAML writer existed
    val collTypes = {
      val yaml = s"$exportDir/collections.yaml"
      val colls =
        if (Files.exists(Paths.get(yaml))) Manifests.readCollectionsYaml(yaml)
        else Manifests.readCollections(s"$exportDir/collections.json")
      colls.map(c => c.name -> c.collection_type).toMap
    }
    val typeOf = collTypes.foldLeft(lit("RUN")) { case (acc, (name, ct)) =>
      when(col("collection") === name, ct).otherwise(acc)
    }
    // persisted: consumed by the two routed writes AND the report
    // counts below — without it the whole union re-runs per action
    val assoc = effTypes
      .map(t => Tables.parquet(spark, s"$exportDir/associations/$t"))
      .reduce(_ unionByName (_, allowMissingColumns = true))
      .withColumn("__ctype", typeOf)
      .persist()
    val associated = assoc.filter(col("__ctype") === "TAGGED")
    val certified = assoc.filter(col("__ctype") === "CALIBRATION")
    // certify requires a validity timespan (importer.py:110-112); when no
    // exported type carries one, the column is absent entirely — then any
    // CALIBRATION membership is an error by the same rule
    if (assoc.columns.contains("timespan"))
      certified.filter(col("timespan").isNull).limit(1).collect().headOption
        .foreach(_ => throw new IllegalStateException(
          "certify requires a validity timespan"))
    else if (!certified.isEmpty)
      throw new IllegalStateException("certify requires a validity timespan")
    // counts ride the writes (same pattern as the dimension/dataset
    // loops); the persisted union still backs both routed writes, and
    // the cached-count fallback only fires on listener loss
    val assocObs = org.apache.spark.sql.Observation("import_assoc")
    val certObs = org.apache.spark.sql.Observation("import_cert")
    // MERGE with the target's existing association tables (set
    // semantics — an association is a membership, so full-row distinct
    // keeps re-imports idempotent): a second import of OTHER dataset
    // types must not wholesale-replace the tables a prior import wrote
    // (the type catalog accumulates across imports by design; the data
    // tables must accumulate with it)
    def mergedAssoc(incoming: DataFrame, table: String): DataFrame = {
      val targetPath = s"$targetDir/$table"
      val existing =
        if (Files.exists(Paths.get(targetPath)))
          Some(Tables.parquet(spark, targetPath))
        else None
      existing
        .map(_.unionByName(incoming, allowMissingColumns = true))
        .getOrElse(incoming)
        .dropDuplicates()
    }
    mergedAssoc(
        associated.drop("__ctype").observe(assocObs, count(lit(1)).as("n")),
        "associations_tagged")
      .write.mode("overwrite")
      .parquet(s"$staging/associations_tagged")
    mergedAssoc(
        certified.drop("__ctype").observe(certObs, count(lit(1)).as("n")),
        "associations_calibration")
      .write.mode("overwrite")
      .parquet(s"$staging/associations_calibration")

    // datastore re-nest (datastore_mapping.py:39-64): flat rows ->
    // per-(datastore, dataset) sorted file-info lists. The reference
    // maps every record's (datastore_name, path) through a caller
    // function first (datastore_mapping.py:47-52); declaratively that
    // is a column rewrite applied before grouping.
    val datastore = {
      val raw = Tables.parquet(spark, s"$exportDir/datastore")
      val renamed = datastoreRename.foldLeft(col("datastore_name")) {
        case (acc, (from, to)) => when(col("datastore_name") === from, to).otherwise(acc)
      }
      raw.withColumn("datastore_name", renamed)
        .withColumn("path", mappedPath(col("path"), pathRemap))
    }
    val payload = struct(
      datastore.columns.filterNot(Set("datastore_name", "dataset_id"))
        .map(col).toIndexedSeq: _*)
    val nested = Aggregates.nestCollect(datastore,
      Seq(col("datastore_name"), col("dataset_id")), payload, "file_infos")
    val nestedObs = org.apache.spark.sql.Observation("import_datastore")
    // skip-existing merge, like dimensions: nested rows are keyed by
    // (datastore_name, dataset_id); prior imports' records survive
    val nestedMerged = {
      val targetPath = s"$targetDir/datastore"
      val incoming = nested.observe(nestedObs, count(lit(1)).as("n"))
      if (Files.exists(Paths.get(targetPath))) {
        val existing = Tables.parquet(spark, targetPath)
        existing.unionByName(
          Relational.antiJoin(incoming, existing,
            Seq("datastore_name", "dataset_id")),
          allowMissingColumns = true)
      } else incoming
    }
    nestedMerged.write.mode("overwrite").parquet(s"$staging/datastore")

    val report = ImportReport(
      dimCounts, dsCounts,
      observedCount(assocObs, associated.count()),
      observedCount(certObs, certified.count()),
      observedCount(nestedObs, nested.count()))
    assoc.unpersist()

    // promote staging -> target (rename per table family)
    promote(staging, targetDir)
    report
  }

  /** Bounded read of a write-action's observed row count
    * (graft.ops.Observations); on listener loss, fall back to the
    * exact count — one extra scan, rare path.
    */
  private def observedCount(obs: org.apache.spark.sql.Observation,
                            fallback: => Long): Long =
    graft.ops.Observations.boundedLong(obs).getOrElse(fallback)

  /** Path half of the datastore mapping function: first matching prefix
    * rule wins (an empty-prefix rule is therefore a catch-all default —
    * the reference's rucio layout, `"dp1/" + path` for everything
    * unmatched, is `("", "dp1/")` as the last rule). When any rules are
    * given, a path still absolute after mapping fails the job, exactly
    * like the reference's mapper (import_dp1.py:92-97 raises on
    * `^[\w+]+://`); with no rules the mapping is the identity and, like
    * the reference's null mapping, validates nothing. The check rides
    * the rewrite expression (`raise_error`), costing no extra scan.
    */
  private[etl] def mappedPath(path: Column,
                              pathRemap: Seq[(String, String)]): Column = {
    if (pathRemap.isEmpty) path
    else {
      // reversed fold so the FIRST matching rule is the outermost when
      val remapped = pathRemap.reverse.foldLeft(path) {
        case (acc, (prefix, to)) =>
          when(path.startsWith(prefix),
            concat(lit(to), path.substr(lit(prefix.length + 1), length(path))))
            .otherwise(acc)
      }
      when(remapped.rlike("^[\\w+]+://"),
        raise_error(concat(
          lit("Unhandled absolute path to datastore file: "), remapped)))
        .otherwise(remapped)
    }
  }

  /** Merge the imported dataset types into the target's schema catalog
    * (the "registration" of importer.py:43-48): new names append; a
    * name that already exists with a different definition is a
    * conflict and fails, like Butler's registerDatasetType.
    */
  private def registerDatasetTypes(
      targetDir: String,
      imported: Seq[Manifests.DatasetTypeExport]): Unit = {
    val path = s"$targetDir/dataset_types.json"
    val existing =
      if (Files.exists(Paths.get(path))) Manifests.readDatasetTypes(path)
      else Nil
    val byName = existing.map(dt => dt.name -> dt).toMap
    imported.foreach { dt =>
      byName.get(dt.name).foreach { prior =>
        require(prior == dt,
          s"conflicting definition for dataset type ${dt.name}: " +
            s"registered $prior, importing $dt")
      }
    }
    val merged = existing ++ imported.filterNot(dt => byName.contains(dt.name))
    Manifests.writeJson(path, merged)
  }

  /** Families whose children are independent TABLES from possibly
    * different imports: promote replaces per TABLE, never the whole
    * family — a second import of other dataset types must not delete
    * the tables (and dimensions) a prior import wrote while the
    * accumulating type catalog still references them.
    */
  private val TablePerChildFamilies = Set("dimensions", "datasets")

  private def promote(staging: String, targetDir: String): Unit = {
    val stagingPath = Paths.get(staging)
    // materialize listings before moving — walking lazily while
    // renaming would stream a directory tree that is mutating under it
    def children(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.list(p)
      try s.filter(Files.isDirectory(_))
        .toArray(Array.ofDim[java.nio.file.Path](_)).toSeq
      finally s.close()
    }
    children(stagingPath).foreach { family =>
      val famName = family.getFileName.toString
      if (TablePerChildFamilies.contains(famName)) {
        children(family).foreach { table =>
          val dest = Paths.get(targetDir).resolve(famName)
            .resolve(table.getFileName)
          graft.ops.Staging.deleteTree(dest)
          Files.createDirectories(dest.getParent)
          Files.move(table, dest, StandardCopyOption.ATOMIC_MOVE)
        }
      } else {
        val dest = Paths.get(targetDir).resolve(famName)
        graft.ops.Staging.deleteTree(dest)
        Files.createDirectories(dest.getParent)
        Files.move(family, dest, StandardCopyOption.ATOMIC_MOVE)
      }
    }
    graft.ops.Staging.deleteTree(stagingPath)
  }
}
