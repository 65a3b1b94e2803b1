package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs for every workload.
  *
  * Every value is a pure function of (row key, salt), drawn from
  * `xxhash64`, so a table is the same bytes whatever the partitioning
  * and whichever JVM writes it. The shapes follow the engine's testdata
  * contract (TPC-H-ish star schema plus `events`, `documents` and
  * `embeddings`; see TESTDATA.md and FIXTURES.md §1): same column
  * names, types and value domains, including the ~5% of documents that
  * are a copy of another document with " dup" appended.
  *
  * Layout under the data root:
  *   base/            the ten tables at [[BaseSf]], one file per table
  *   corpus-vN/       base with documents/embeddings/events stacked 3x
  *   lifecycle-day1/  the fixed day-1 slice and the four indexes built on it
  *   lifecycle-sN-bB/ the B day-2 batches, in the seed's order
  *   etl-sN/          refs (orders assigned to runs) + datastore rows
  * A directory is complete once its `_DONE` marker exists.
  */
object Gen {

  /** Scale of the base tables: sf0.01 of the testdata generator
    * (60k lineitem rows, 500 documents).
    */
  val BaseSf = 0.01

  /** Corpus inputs cycle through this many seeded samples; expected
    * outputs are committed for each (perfbench/expected/corpus.json).
    */
  val CorpusVariants = 32

  private val Mask48 = 0xFFFFFFFFFFFFL

  /** Uniform [0, 1) keyed by `keys` and `salt`. */
  def u(salt: Long, keys: Column*): Column =
    xxhash64((keys :+ lit(salt)): _*).bitwiseAND(lit(Mask48)).cast("double") /
      lit(281474976710656.0)

  private def pick(x: Column, n: Long): Column = floor(x * n).cast("long")

  private def choose(x: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pick(x, values.size) + 1).cast("int"))

  private def gauss(salt: Long, keys: Column*): Column =
    sqrt(lit(-2.0) * log(lit(1.0) - u(salt, keys: _*))) *
      cos(lit(2 * math.Pi) * u(salt + 1, keys: _*))

  private def day(from: String, x: Column, days: Int): Column =
    date_add(lit(from).cast("date"), pick(x, days).cast("int"))
      .cast("timestamp_ntz")

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def done(dir: String): Boolean = Files.exists(Paths.get(dir, "_DONE"))

  /** Run `make` into `dir` unless a complete copy exists. A partial
    * directory from an interrupted run is removed first.
    */
  def once(dir: String)(make: => Unit): Unit = if (!done(dir)) {
    graft.ops.Staging.deleteTree(dir)
    Files.createDirectories(Paths.get(dir))
    make
    Files.writeString(Paths.get(dir, "_DONE"), "")
  }

  private def write(df: DataFrame, path: String, files: Int): Unit = {
    val k = df.columns.head
    val shaped =
      if (files == 1) df.coalesce(1)
      else df.repartitionByRange(files, col(k)).sortWithinPartitions(k)
    shaped.write.mode("overwrite").parquet(path)
  }

  def base(spark: SparkSession, dir: String): Unit = once(dir) {
    val sf = BaseSf
    def n(k: Double): Long = math.max(1L, math.round(k * sf))
    val (nc, ns, np, no, nl) = (n(150000), n(10000), n(200000), n(1500000), n(6000000))
    val (ne, nd, nm) = (n(1000000), n(50000), math.max(500L, n(20000)))
    val users = math.max(150L, ne * 15 / 1000)
    def ids(k: Long): DataFrame = spark.range(0, k, 1, 4).toDF()
    val id = col("id")
    def out(name: String, df: DataFrame): Unit = write(df, s"$dir/$name.parquet", 1)

    out("region", ids(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name")))
    out("nation", ids(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    out("customer", ids(nc).select(id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      pick(u(1, id), 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(2, id) * 10999.98, 2).as("c_acctbal"),
      choose(u(3, id), Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
        "BUILDING", "FURNITURE")).as("c_mktsegment")))
    out("supplier", ids(ns).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
      pick(u(11, id), 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u(12, id) * 10999.98, 2).as("s_acctbal")))
    out("part", ids(np).select(id.as("p_partkey"),
      concat_ws(" ",
        choose(u(21, id), Seq("small", "red", "blue", "new", "hot", "cold",
          "large", "old")),
        choose(u(22, id), Seq("ring", "widget", "bolt", "anvil", "rod",
          "plate", "gear", "nut"))).as("p_name"),
      concat(lit("Brand#"), pick(u(23, id), 25) + 1).as("p_brand"),
      choose(u(24, id), Seq("LARGE", "ECONOMY", "STANDARD", "SMALL",
        "MEDIUM", "PROMO")).as("p_type"),
      (pick(u(25, id), 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) * 0.1, 1).as("p_retailprice")))
    out("orders", ids(no).select(id.as("o_orderkey"),
      pick(u(31, id), nc).as("o_custkey"),
      choose(u(32, id), Seq("O", "P", "F")).as("o_orderstatus"),
      round(lit(1000.0) + u(33, id) * 499000.0, 2).as("o_totalprice"),
      day("1995-01-01", u(34, id), 2404).as("o_orderdate"),
      choose(u(35, id), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    out("lineitem", ids(nl).select(
      pick(u(41, id), no).as("l_orderkey"),
      pick(u(42, id), np).as("l_partkey"),
      pick(u(43, id), ns).as("l_suppkey"),
      (pick(u(44, id), 7) + 1).cast("int").as("l_linenumber"),
      (pick(u(45, id), 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(46, id) * 104100.0, 2).as("l_extendedprice"),
      (pick(u(47, id), 11) / 100.0).as("l_discount"),
      (pick(u(48, id), 9) / 100.0).as("l_tax"),
      choose(u(49, id), Seq("A", "N", "R")).as("l_returnflag"),
      choose(u(50, id), Seq("O", "F")).as("l_linestatus"),
      day("1995-01-02", u(51, id), 2498).as("l_shipdate")))

    // events: monotone timestamps over 30 days, one step per event
    val stepMicros = 30L * 86400L * 1000000L / ne
    out("events", ids(ne).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * stepMicros +
        pick(u(61, id), stepMicros)).cast("timestamp_ntz").as("ts"),
      pick(u(62, id), users).as("user_id"),
      choose(u(63, id), Seq("signup", "click", "error", "view",
        "purchase")).as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u(64, id)), 2).as("value"),
      concat(lit("{\"k\": "), pick(u(65, id), 100), lit("}")).as("props")))

    // documents: 10-100 words from a 30-word vocabulary; ~5% copy
    // another document's text and append " dup"
    val vocab = array(Vocab.map(lit): _*)
    val words = transform(sequence(lit(1), (pick(u(71, id), 91) + 10).cast("int")),
      i => element_at(vocab, (pick(u(72, id, i), Vocab.size) + 1).cast("int")))
    val fresh = ids(nd).select(id.as("doc_id"), array_join(words, " ").as("text"))
    val dupOf = ids(nd).filter(u(73, id) < 0.05)
      .select(id.as("doc_id"), pick(u(74, id), nd).as("src"))
    val texts = fresh.join(dupOf, Seq("doc_id"), "left")
      .join(fresh.select(col("doc_id").as("src"), col("text").as("src_text")),
        Seq("src"), "left")
      .select(col("doc_id"),
        when(col("src").isNotNull && col("src") =!= col("doc_id"),
          concat(col("src_text"), lit(" dup"))).otherwise(col("text")).as("text"))
    out("documents", texts.select(col("doc_id"), col("text"),
      choose(u(75, col("doc_id")), Seq("en", "en", "en", "zh", "de", "fr",
        "es")).as("lang"),
      concat(lit("src"), col("doc_id") % 20).as("source"),
      length(col("text")).cast("long").as("n_chars")).orderBy("doc_id"))

    // embeddings: 64-d unit vectors around one of ten label centroids
    val label = pick(u(81, id), 10)
    val raw = transform(sequence(lit(0), lit(63)),
      j => gauss(82, label, j) + gauss(84, id, j))
    out("embeddings", ids(nm).select(id.as("vec_id"), raw.as("raw"),
      label.cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label")))
  }

  /** The `ScaleSmoke.stack` contract with a seeded sample: copy 0 is the
    * base table, copies 1-2 keep about half of its rows (the sample is
    * variant `v`'s) with ids offset by copy * 10^8. Stacked tables are
    * written as four files so that scans split across the cores; the
    * other tables are copied unchanged.
    */
  def corpus(spark: SparkSession, baseDir: String, dir: String, v: Int): Unit =
    once(dir) {
      val stacked = Map("documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
        "events" -> Seq("event_id", "user_id"))
      graft.model.Tables.names.foreach { t =>
        stacked.get(t) match {
          case Some(idCols) =>
            val b = spark.read.parquet(s"$baseDir/$t.parquet")
            val copies = (0 until 3).map { c =>
              val kept = if (c == 0) b else b.filter(u(1000L + 10L * v + c, col(idCols.head)) < 0.5)
              idCols.foldLeft(kept)((d, k) => d.withColumn(k, col(k) + lit(c * 100000000L)))
            }
            write(copies.reduce(_ unionByName _), s"$dir/$t.parquet", 4)
          case None => copyTree(Paths.get(s"$baseDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"))
        }
      }
    }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }

  /** Lifecycle inputs. Half of the documents (and vectors) form a fixed
    * day-1 slice, written to `day1Dir` once. The seed shuffles the rest
    * into `batches` day-2 batches of equal size (the order they arrive
    * in), written to `dir` as `docs`, `fps` and `vecs` partitioned by
    * `slot` (1..batches).
    */
  def lifecycle(spark: SparkSession, baseDir: String, day1Dir: String, dir: String,
                seed: Long, batches: Int): Unit = {
    val day1 = (key: Column) => u(2000L, key) < 0.5
    val docs = spark.read.parquet(s"$baseDir/documents.parquet").select(col("doc_id"), col("text"))
    val fps = graft.ext.Dedup.simhash64(docs, col("text"), col("doc_id"))
    val vecs = spark.read.parquet(s"$baseDir/embeddings.parquet").select(col("vec_id"), col("embedding"))
    val tables = Seq(("docs", docs, "doc_id"), ("fps", fps, "doc_id"), ("vecs", vecs, "vec_id"))
    once(day1Dir) {
      tables.foreach { case (name, df, key) => write(df.filter(day1(col(key))), s"$day1Dir/$name", 1) }
    }
    once(dir) {
      tables.foreach { case (name, df, key) =>
        val rest = df.filter(!day1(col(key)))
        val n = rest.count()
        val rank = row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(u(2100L + seed, col(key)), col(key)))
        rest.withColumn("slot", ((rank - 1) * batches / n + 1).cast("int"))
          .coalesce(1).write.partitionBy("slot").parquet(s"$dir/$name")
      }
    }
  }

  /** ETL inputs, shaped like `tools/EtlDemo`: every order has a ref in
    * `runs/initial`; the seed also gives about a third of the orders a
    * ref in `runs/final`, which find_first must prefer. The datastore
    * holds one artifact row per lineitem.
    */
  def etl(spark: SparkSession, baseDir: String, dir: String, seed: Long): Unit =
    once(dir) {
      val orders = spark.read.parquet(s"$baseDir/orders.parquet")
      val inFinal = u(3000L + seed, col("o_orderkey")) < (1.0 / 3)
      val refsFinal = orders.filter(inFinal).select(
        concat(lit("f-"), col("o_orderkey")).as("dataset_id"),
        lit("runs/final").as("run"), lit("runs/final").as("collection"),
        col("o_orderkey").as("order_id"))
      val refsInitial = orders.select(
        concat(lit("i-"), col("o_orderkey")).as("dataset_id"),
        lit("runs/initial").as("run"), lit("runs/initial").as("collection"),
        col("o_orderkey").as("order_id"))
      write(refsFinal.unionByName(refsInitial), s"$dir/refs", 1)
      write(spark.read.parquet(s"$baseDir/lineitem.parquet").select(
        lit("main").as("datastore_name"), lit(0).as("priority"),
        concat(lit("i-"), col("l_orderkey")).as("dataset_id"),
        concat(lit("data/"), col("l_orderkey"), lit("/"),
          col("l_linenumber"), lit(".parquet#frag")).as("path")),
        s"$dir/datastore", 1)
    }
}
