package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.sql.DerbyDialect

/** Seeded sf0.1-shaped orders/lineitem and the key splits the `load`
  * sequence writes. Everything derives from (seed, row id) hashes, so
  * one seed always gives the same frames.*/
final class LoadData(ctx: Ctx, cache: Boolean) {
  import ctx.spark

  private def h(tag: String, c: Column): Column =
    xxhash64(lit(ctx.seed), lit(tag), c)
  private def u(tag: String, c: Column, m: Long): Column = pmod(h(tag, c), lit(m))
  private def pick(tag: String, c: Column, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (u(tag, c, xs.size.toLong) + 1).cast("int"))
  private def day(tag: String, c: Column): Column =
    timestamp_seconds(lit(694224000L) + u(tag, c, 2557L) * 86400L)

  val nOrders = 15000L

  /** Orders for keys [from, until); prices are whole cents so NUMERIC(18,2)
    * holds them exactly. */
  def orders(from: Long, until: Long): DataFrame = {
    val k = col("id")
    spark.range(from, until).select(
      k.as("o_orderkey"),
      u("cust", k, 15000L).as("o_custkey"),
      pick("st", k, "O", "F", "P").as("o_orderstatus"),
      ((u("price", k, 50000000L) + 90000L) / 100.0).as("o_totalprice"),
      day("date", k).as("o_orderdate"),
      pick("prio", k, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").as("o_orderpriority"))
  }

  /** The existing order keys an upsert delta moves. */
  def moved(tag: (String, Long)): Column = u(tag._1, col("o_orderkey"), tag._2) === 0

  /** The moved keys with the price shifted by a seeded whole-cent amount,
    * plus `fresh` new keys from `newFrom` on. */
  def delta(tag: (String, Long), newFrom: Long, fresh: Long): DataFrame = {
    val k = col("o_orderkey")
    val shifted = pqOrders.filter(moved(tag))
      .withColumn("o_totalprice", (round(col("o_totalprice") * 100.0) +
        u(tag._1 + "d", k, 100000L) + 1L) / 100.0)
    shifted.unionByName(orders(newFrom, newFrom + fresh))
  }

  def lineitem: DataFrame = {
    val i = col("id")
    spark.range(0, nOrders * 4).select(
      (i / 4).cast("long").as("l_orderkey"),
      u("part", i, 20000L).as("l_partkey"),
      u("supp", i, 1000L).as("l_suppkey"),
      (pmod(i, lit(4L)) + 1).cast("int").as("l_linenumber"),
      (u("qty", i, 50L) + 1).cast("double").as("l_quantity"),
      ((u("ep", i, 10000000L) + 90000L) / 100.0).as("l_extendedprice"),
      (u("disc", i, 11L) / 100.0).as("l_discount"),
      (u("tax", i, 9L) / 100.0).as("l_tax"),
      pick("rf", i, "R", "A", "N").as("l_returnflag"),
      pick("ls", i, "O", "F").as("l_linestatus"),
      day("ship", i).as("l_shipdate"))
  }

  private def cached(df: DataFrame): DataFrame =
    if (!cache) df
    else {
      val c = df.cache()
      c.count()
      c
    }

  // the two base tables are held in memory; every other input is a
  // filter of them or a few thousand generated rows
  val pqOrders = cached(orders(0, nOrders))
  val items = cached(lineitem)
  private val split = u("split", col("o_orderkey"), 4L) === 0
  val ordersCreate = pqOrders.filter(!split)
  val ordersAppend = pqOrders.filter(split)
  val upsertSmall = delta(LoadData.small, 300000L, 24L)
  val upsertLarge = delta(LoadData.large, 400000L, 94L)
  val appendOnce = orders(500000L, 501000L)
  val pqDelta = delta(LoadData.pq, 600000L, 94L)
  val itemsEighth = items.filter(
    u("l8", col("l_orderkey") * 8 + col("l_linenumber"), 8L) === 0)

  def release(): Unit = Seq(pqOrders, items).foreach(_.unpersist())
}

object LoadData {
  /** (hash tag, 1/share) of the keys each upsert delta moves: about 230
    * and 940 of the 15k orders on the SQL route, 940 on parquet. */
  val small = ("us", 64L)
  val large = ("ul", 16L)
  val pq = ("pd", 16L)
}

/** Order-independent digest of a table: row count, a key-set hash
  * (sum of key * A mod P) and exact fixed-point sums of the numeric
  * columns. Computed by Spark for frames and parquet tables and by one
  * aggregate statement inside Derby for the SQL target. */
final case class Digest(values: Seq[Long]) {
  def +(o: Digest): Digest = Digest(values.zip(o.values).map { case (a, b) => a + b })
  def -(o: Digest): Digest = Digest(values.zip(o.values).map { case (a, b) => a - b })
}

object Digest {
  private val A = 2654435761L
  private val P = 4294967291L

  final case class Spec(key: Column, keySql: String, nums: Seq[(String, Int)])

  val orders = Spec(col("o_orderkey"), "\"o_orderkey\"",
    Seq("o_custkey" -> 0, "o_totalprice" -> 2))
  val items = Spec(col("l_orderkey") * 8 + col("l_linenumber"), "",
    Seq("l_partkey" -> 0, "l_suppkey" -> 0, "l_linenumber" -> 0,
      "l_quantity" -> 0, "l_extendedprice" -> 2, "l_discount" -> 2,
      "l_tax" -> 2))

  def of(df: DataFrame, s: Spec): Digest = many(Seq("" -> df), s)("")

  /** Digests of several frames in one Spark job. */
  def many(frames: Seq[(String, DataFrame)], s: Spec): Map[String, Digest] = {
    val tagged = frames.map { case (name, df) =>
      df.select(lit(name).as("step") +: s.key.cast("long").as("k") +:
        s.nums.map { case (c, scale) =>
          round(col(c).cast("double") * math.pow(10, scale)).cast("long").as(c)
        }: _*)
    }.reduce(_ unionByName _)
    val sums = s.nums.map { case (c, _) => sum(col(c)) }
    val got = tagged.groupBy(col("step"))
      .agg(count(lit(1)), sum(pmod(col("k") * A, lit(P))) +: sums: _*)
      .collect().map { r =>
        r.getString(0) -> Digest((1 until r.length).map(i =>
          if (r.isNullAt(i)) 0L else r.getLong(i)))
      }.toMap
    frames.map { case (name, _) =>
      name -> got.getOrElse(name, Digest(0L +: Seq.fill(1 + s.nums.size)(0L)))
    }.toMap
  }

  def ofSql(conn: java.sql.Connection, table: String, s: Spec): Digest = {
    val sums = s.nums.map { case (c, scale) =>
      val v = if (scale == 0) s""""$c"""" else s""""$c" * ${math.pow(10, scale).toLong}"""
      s"SUM(CAST($v AS BIGINT))"
    }
    val q = s"SELECT COUNT(*), SUM(MOD(CAST(${s.keySql} AS BIGINT) * $A, $P)), " +
      sums.mkString(", ") + s" FROM $table"
    val rs = conn.createStatement().executeQuery(q)
    rs.next()
    Digest((1 to 2 + sums.size).map(rs.getLong))
  }
}

/** `load`: the paper's operation, Graft.dfToTable, as a fixed call
  * sequence per pass — SQL route into in-process Derby, then the
  * parquet route — each call followed by a read-back check. */
final class Load(ctx: Ctx) extends Workload {
  import ctx.spark

  private val schema = "bench"
  private val key = "o_orderkey"
  private val pqBase = s"${ctx.work}/pq"
  private var data: LoadData = _
  private var db = ""
  // expected target digest after each step, and each step's input rows
  private var expected: Map[String, Digest] = Map.empty
  private var inputRows: Map[String, Long] = Map.empty
  private var filesWritten = 0L
  private var bytesWritten = 0L
  private var storedBytes = 0L
  private var storedRows = 0L

  private def url = s"jdbc:derby:memory:$db"

  private def withConn[T](f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Input frames and a fresh Derby database. */
  def setupRep(rep: Int): Unit = {
    if (data != null) data.release()
    if (db.nonEmpty)
      try java.sql.DriverManager.getConnection(url + ";drop=true").close()
      catch { case _: java.sql.SQLException => () } // drop reports by throwing
    data = new LoadData(ctx, cache = true)
    db = s"pb$rep"
    java.sql.DriverManager.getConnection(url + ";create=true").close()
  }

  /** Expected digest of every step, by digest arithmetic over the input
    * frames (an upsert replaces whole rows, so it subtracts the replaced
    * rows and adds the delta): two Spark jobs, no joins. Runs alongside
    * the first set-up repetition on its own uncached copy of the inputs
    * (the seed alone fixes them). */
  override def prepareChecks(): Unit = {
    val d = new LoadData(ctx, cache = false)
    val all = d.pqOrders
    val (ms, ml, mp) = (d.moved(LoadData.small), d.moved(LoadData.large),
      d.moved(LoadData.pq))
    val old = col(key) < d.nOrders
    val o = Digest.many(Seq("create" -> d.ordersCreate,
      "append" -> d.ordersAppend, "all" -> all,
      "orig_s" -> all.filter(ms), "ups" -> d.upsertSmall,
      "orig_l" -> all.filter(ml && !ms), "ups_l" -> d.upsertSmall.filter(old && ml),
      "upl" -> d.upsertLarge, "once" -> d.appendOnce,
      "orig_p" -> all.filter(mp), "upp" -> d.pqDelta), Digest.orders)
    val i = Digest.many(Seq("items" -> d.items, "eighth" -> d.itemsEighth),
      Digest.items)
    inputRows = Map("sql_create" -> o("create"), "sql_append" -> o("append"),
      "sql_upsert_small" -> o("ups"), "sql_upsert" -> o("upl"),
      "sql_append_once" -> o("once"), "pq_create" -> i("items"),
      "pq_create_part" -> i("items"), "pq_append" -> i("eighth"),
      "pq_create_orders" -> o("all"), "pq_upsert" -> o("upp"))
      .map { case (k, v) => k -> v.values.head }
    val s3 = o("all") - o("orig_s") + o("ups")
    val s4 = s3 - o("orig_l") - o("ups_l") + o("upl")
    expected = Map("sql_create" -> o("create"), "sql_append" -> o("all"),
      "sql_upsert_small" -> s3, "sql_upsert" -> s4,
      "sql_append_once" -> (s4 + o("once")),
      "pq_create" -> i("items"), "pq_create_part" -> i("items"),
      "pq_append" -> (i("items") + i("eighth")),
      "pq_create_orders" -> o("all"),
      "pq_upsert" -> (o("all") - o("orig_p") + o("upp")))
  }

  private def check(rec: Recorder, step: String, got: => Digest): Unit =
    if (rec.ops.last.ok) {
      val d = try got catch { case _: Exception => Digest(Seq(-1L)) }
      if (d != expected(step))
        rec.fail(s"$step: target digest ${d.values} != expected ${expected(step).values}")
    }

  /** One pass of each route, the two at once and checked but not
    * counted, on the measured targets (Derby caches compiled statements
    * per database), so the measured passes run warm: a first pass in a
    * fresh JVM was measured 20-40% slower than the next ones. */
  override def warmup(): Unit =
    Par.all(() => sqlPass(new Recorder, data), () => pqPass(new Recorder, data))

  def pass(rec: Recorder): Unit = {
    sqlPass(rec, data)
    pqPass(rec, data)
  }

  private def sqlPass(rec: Recorder, d: LoadData): Unit = {
    def call(step: String, df: DataFrame, method: String,
        ids: Seq[String] = Nil, once: Boolean = false): Unit = {
      rec.op(s"api.$step", "sql", inputRows(step)) {
        Graft.dfToTable(df, "orders", schema, url, method, idField = ids,
          dialect = DerbyDialect, numPartitions = Some(ctx.nproc),
          exactlyOnce = once)
      }
      check(rec, step, withConn(
        Digest.ofSql(_, s""""$schema"."orders"""", Digest.orders)))
    }
    call("sql_create", d.ordersCreate, "create")
    call("sql_append", d.ordersAppend, "append")
    // an unindexed Derby MERGE is a nested loop over the target, so the
    // benchmark gives the target the key index a SQL Server table would have
    rec.op("sql.index", "sql_index", 0) {
      withConn(_.createStatement().execute(s"""CREATE UNIQUE INDEX
        "$schema"."orders_key" ON "$schema"."orders" ("$key")"""))
    }
    call("sql_upsert_small", d.upsertSmall, "upsert", Seq(key))
    call("sql_upsert", d.upsertLarge, "upsert", Seq(key))
    call("sql_append_once", d.appendOnce, "append", once = true)
  }

  /** Parquet files under the sink base: path -> (bytes, mtime). */
  private def pqFiles(): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new File(pqBase)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }

  private def pqPass(rec: Recorder, d: LoadData): Unit = {
    def call(step: String, table: String, df: DataFrame, method: String,
        spec: Digest.Spec, ids: Seq[String] = Nil,
        part: Seq[String] = Nil): Unit = {
      val before = pqFiles()
      rec.op(s"api.$step", "pq", inputRows(step)) {
        Graft.dfToTable(df, table, schema, pqBase, method, idField = ids,
          parquet = true, partitionBy = part)
      }
      if (rec.tracing) {
        val fresh = pqFiles().filter { case (p, v) => !before.get(p).contains(v) }
        filesWritten += fresh.size
        bytesWritten += fresh.values.map(_._1).sum
      }
      check(rec, step, Digest.of(spark.read.parquet(
        graft.sources.Generations.resolve(spark,
          s"$pqBase/$schema/$table.parquet")), spec))
    }
    call("pq_create", "lineitem", d.items, "create", Digest.items)
    call("pq_create_part", "lineitem_part", d.items, "create", Digest.items,
      part = Seq("l_returnflag"))
    call("pq_append", "lineitem", d.itemsEighth, "append", Digest.items)
    call("pq_create_orders", "orders", d.pqOrders, "create", Digest.orders)
    call("pq_upsert", "orders", d.pqDelta, "upsert", Digest.orders, Seq(key))
    storedBytes = pqFiles().values.map(_._1).sum
    storedRows = Seq("pq_append", "pq_create_part", "pq_upsert")
      .map(expected(_).values.head).sum
  }

  override def traceExtras(rec: Recorder): Map[String, Any] = Map(
    "files_written" -> filesWritten, "bytes_written" -> bytesWritten)

  override def facts: Map[String, Any] = Map(
    "stored_bytes" -> storedBytes, "stored_rows" -> storedRows)
}
