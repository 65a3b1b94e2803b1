package graft

import org.apache.spark.sql.SparkSession

/** The ONE session recipe for running this engine — the conf posture
  * every graft session needs, whoever builds it (the bench, the
  * verifier, the tool mains, a library consumer's own main).
  * Round 19 left these confs duplicated across harness mains only; a
  * consumer building a bare `SparkSession` silently got the 100-entry
  * codegen cache and committer v1 back. One audited copy here.
  *
  * What it sets, and why it is workload- (never host-) derived:
  *
  *  - `spark.sql.codegen.cache.maxEntries = 8192` (STATIC conf — must
  *    be set before the first session of the JVM): Spark's generated-
  *    class cache holds 100 entries by default; a session serving a
  *    few hundred distinct operators holds a few THOUSAND codegen
  *    units, so the default thrashes and every re-execution re-pays
  *    full Janino compilation — pure driver overhead at any data
  *    scale (measured −25% on the 228-query bench).
  *  - job-commit algorithm 2: task output reaches the destination at
  *    TASK commit, so job commit stops serially renaming every file
  *    on the driver. Safe engine-wide because result visibility is
  *    governed by the versioned-pointer CAS ([[graft.ops.Staging]]),
  *    never by `_SUCCESS`, and crash-retried segment writes
  *    deleteTree their own deterministic dirs first.
  *  - `spark.sql.session.timeZone = UTC`: the engine's declared-query
  *    results are timezone-exact against the oracle; a host-local
  *    zone would silently shift every date_trunc/window row.
  *  - `file://` binds to [[graft.ops.NioLocalFileSystem]] and
  *    [[graft.ops.NioLocalFs]] (`FileSystem` and `FileContext`): Hadoop's
  *    local filesystem without `libhadoop` launches a `chmod`, `ls` or
  *    `readlink` process for every file it creates, every permission
  *    it reads and every link check — ~2,500 launches per small-commit
  *    benchmark run, the largest fixed cost left on commit and listing.
  *    These classes make the same calls through `java.nio`; bytes,
  *    checksums, permissions and rename semantics are unchanged. It
  *    binds only if this session is built before the JVM's first
  *    `file://` access (Hadoop caches one `FileSystem` per scheme,
  *    whatever class a later conf names), as every main here does.
  *  - one AQE rule, [[graft.ops.SmallPlan]]: a query whose input AQE
  *    would coalesce to one partition anyway runs in one task. It
  *    replaces a small exchange with `Coalesce(1)` under a global sort
  *    (no range-sampling job, no map stage), under an aggregate or a
  *    window (no map stage), on both sides of a shuffled join (together
  *    or not at all), and turns a broadcast hash join over a small
  *    build side into a one-task shuffled hash join (no broadcast job).
  *    Safe because one partition satisfies every distribution those
  *    operators require, the local sorts stay, and it fires only where
  *    AQE's own coalescing would have left exactly that one partition:
  *    the threshold comes from AQE's coalescing confs (off with
  *    coalescing, `minPartitionSize` or `advisoryPartitionSizeInBytes`),
  *    and the exchange stays over any operator whose output can outgrow
  *    Spark's size estimate (a `Generate` fan-out, a typed lambda), a
  *    user's `repartition`, an exchange AQE would reuse, a null-aware
  *    anti join and a broadcast a partition-pruning filter reuses.
  *
  * Deliberately NOT set here: `spark.sql.shuffle.partitions` (a
  * cluster sizes its own; [[localBuilder]] sets it to the local core
  * count so tiny-fixture runs are comparable), memory/executor sizing
  * (deployment-owned), and any other plan-shaping conf (AQE's confs
  * stay at Spark defaults — the engine's operators are audited under
  * them).
  */
object Sessions {

  /** `spark`'s Hadoop conf as `newHadoopConf()` builds it — the
    * SparkContext's Hadoop conf with every session conf set on top —
    * without copying its ~1,100 entries on every call when the session
    * sets only `spark.*` keys: Hadoop reads none of those, so the
    * SparkContext's own conf (live, so later changes to it count) is
    * the same conf to a `FileSystem`. A session that sets any other key
    * (`fs.*`, `hadoop.*`, …) gets the copy. The one rule of every
    * file-system and footer call of the engine ([[graft.ops.Staging]],
    * [[graft.model.Tables]]).
    */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    if (spark.sessionState.conf.getAllConfs.keysIterator.forall(_.startsWith("spark.")))
      spark.sparkContext.hadoopConfiguration
    else spark.sessionState.newHadoopConf()

  /** Apply the engine conf posture to any builder (library-consumer
    * surface — compose with your own master/memory/catalog confs).
    */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.cache.maxEntries", "8192")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
      "2")
    .config("spark.hadoop.fs.file.impl", "graft.ops.NioLocalFileSystem")
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      "graft.ops.NioLocalFs")
    .withExtensions(_.injectQueryStagePrepRule(_ => graft.ops.SmallPlan))

  /** The harness shape: `local[cpus]` with shuffle parallelism pinned
    * to the core count (scale-adaptive — the driver re-runs the bench
    * at several core counts) and the UI off. Every main in this repo
    * (Bench, Verify, the tools package) builds here so its numbers
    * are bench-comparable; bespoke conf lists in mains drift.
    */
  def localBuilder(cpus: String): SparkSession.Builder =
    tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
}
