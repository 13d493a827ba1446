package udabench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, row id), so a seed gives the same inputs however the
  * rows are partitioned, and no generator keeps RNG state. */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + stream) + i)
  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(h(seed, stream, i), n.toLong).toInt

  // ---- kv_sort_merge: TeraGen-shaped map-output files -------------------

  val KeyLen = 10
  val ValLen = 90
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  /** A TeraGen record: a 10-byte random key; a 90-byte value holding the
    * row id as 32 hex digits and 58 bytes of one row-chosen letter. */
  def record(seed: Long, i: Long): (Array[Byte], Array[Byte]) = {
    val a = h(seed, 1, i)
    val b = h(seed, 2, i)
    val k = new Array[Byte](KeyLen)
    var j = 0
    while (j < 8) { k(j) = (a >>> (8 * j)).toByte; j += 1 }
    k(8) = b.toByte
    k(9) = (b >>> 8).toByte
    val v = new Array[Byte](ValLen)
    j = 0
    while (j < 32) {
      v(j) = if (j < 16) '0'.toByte else Hex(((i >>> (4 * (31 - j))) & 0xf).toInt)
      j += 1
    }
    java.util.Arrays.fill(v, 32, ValLen, ('A' + ((b >>> 16) & 0xffff) % 26).toByte)
    (k, v)
  }

  /** Writes `n` records as `files` uncompressed graft-ifile files. */
  def writeMofs(spark: SparkSession, seed: Long, n: Long, files: Int,
                dir: String): Unit = {
    val rows = spark.sparkContext.range(0, n, 1, files)
      .map { i => val (k, v) = record(seed, i); Row(k, v) }
    spark.createDataFrame(rows, graft.sources.ifile.IFileKV.schema)
      .write.format("graft-ifile").mode("overwrite").save(dir)
  }

  /** Count and order-independent checksum of the generated records,
    * computed from the generator, not from the files. */
  def mofChecksum(spark: SparkSession, seed: Long, n: Long,
                  files: Int): Checks.Sum =
    spark.sparkContext.range(0, n, 1, files).mapPartitions { it =>
      var s = Checks.Sum.zero
      it.foreach { i => val (k, v) = record(seed, i); s = s.add(Checks.recHash(k, v)) }
      Iterator(s)
    }.fold(Checks.Sum.zero)(_ + _)

  // ---- dedup_pipeline: a corpus with planted near-duplicate chains ------

  val Vocab: Array[String] = ("spark line column order small sort fast value " +
    "scan hash slow group batch agg filter query big key window part stream " +
    "table merge join vector data row customer the a shuffle fetch reduce " +
    "map segment spill index buffer").split(" ")
  val FamilySlots = 4
  private val FamilySize = Array(1, 1, 1, 1, 2, 2, 3, 4)
  private val Langs = Array("en", "en", "es", "zh", "de", "fr")

  /** Docs come in slots of [[FamilySlots]]. Slot 0 of family f is a
    * fresh text; slots 1 until `familySize` are a chain, each member one
    * word substitution (or, one time in five, an exact copy) away from
    * the previous member, so chain neighbours have 3-shingle Jaccard
    * >= (n-5)/(n+1) > 0.9 for n >= 70 words and the whole chain must end
    * in one cluster, most of it only transitively. The remaining slots
    * are fresh texts. */
  def familySize(seed: Long, f: Long): Int = FamilySize(below(seed, 20, f, FamilySize.length))

  def docText(seed: Long, docId: Long): String = {
    val f = docId / FamilySlots
    val slot = (docId % FamilySlots).toInt
    val size = familySize(seed, f)
    val base = if (slot < size) f * FamilySlots else docId
    val n = 70 + below(seed, 21, base, 50)
    val words = Array.tabulate(n)(j => Vocab(below(seed, 22, base * 1000 + j, Vocab.length)))
    if (slot < size) {
      // substitution m lands in its own 4-word stretch, so no two
      // substitutions touch the same shingle
      var m = 1
      while (m <= slot) {
        if (below(seed, 23, f * 16 + m, 5) != 0) {
          val pos = 4 * ((m - 1) % (n / 4)) + 1
          val old = words(pos)
          var w = Vocab(below(seed, 24, f * 16 + m, Vocab.length))
          if (w == old) w = Vocab((Vocab.indexOf(old) + 1) % Vocab.length)
          words(pos) = w
        }
        m += 1
      }
    }
    words.mkString(" ")
  }

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  def docs(spark: SparkSession, seed: Long, nDocs: Long): DataFrame = {
    val rows = spark.sparkContext.range(0, nDocs, 1, 4).map { id =>
      val t = docText(seed, id)
      Row(id, t, Langs(below(seed, 25, id, Langs.length)),
        "src" + below(seed, 26, id, 20), t.length.toLong)
    }
    spark.createDataFrame(rows, docsSchema)
  }

  // ---- query_mix: the relational fixture's star schema ------------------

  /** Writes region, nation, customer, supplier, part, orders, lineitem
    * and documents as parquet under `dir`, in the schemas of the
    * repository's sf* fixtures. `orders` rows = 150000 x `scale`. */
  def writeStarSchema(spark: SparkSession, seed: Long, scale: Double,
                      dir: String): Unit = {
    val nOrd = math.max(1000L, (150000 * scale).toLong)
    val nLi = nOrd * 4
    val nCust = math.max(100L, nOrd / 10)
    val nPart = math.max(200L, (20000 * scale).toLong)
    val nSupp = math.max(20L, (1000 * scale).toLong)
    def u(stream: Int, m: Long) =
      pmod(xxhash64(lit(seed), lit(stream), col("id")), lit(m))
    def pick(stream: Int, xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), (u(stream, xs.size) + 1).cast("int"))
    def cents(stream: Int, lo: Long, hi: Long) =
      ((u(stream, hi - lo) + lo) / 100.0).cast("double")
    def day(stream: Int, from: String, days: Int) =
      timestamp_seconds(unix_timestamp(lit(from + " 00:00:00")) + u(stream, days) * 86400)
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", spark.range(0, 5, 1, 1).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    write("nation", spark.range(0, 25, 1, 1).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    write("customer", spark.range(0, nCust, 1, 1).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(30, 25).cast("int").as("c_nationkey"), cents(31, -99999, 999999).as("c_acctbal"),
      pick(32, Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"))
        .as("c_mktsegment")))
    write("supplier", spark.range(0, nSupp, 1, 1).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u(33, 25).cast("int").as("s_nationkey"), cents(34, -99999, 999999).as("s_acctbal")))
    write("part", spark.range(0, nPart, 1, 1).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(35, Seq("large", "hot", "blue", "small", "green", "cold")),
        pick(36, Seq("ring", "bolt", "nut", "gear", "pipe"))).as("p_name"),
      concat(lit("Brand#"), u(37, 25) + 1).as("p_brand"),
      pick(38, Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD")).as("p_type"),
      (u(39, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")))
    write("orders", spark.range(0, nOrd, 1, 2).select(col("id").as("o_orderkey"),
      u(40, nCust).as("o_custkey"), pick(41, Seq("F", "O", "P")).as("o_orderstatus"),
      cents(42, 100191, 49999318).as("o_totalprice"),
      day(43, "1995-01-01", 2404).as("o_orderdate"),
      pick(44, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    write("lineitem", spark.range(0, nLi, 1, 4).select(u(50, nOrd).as("l_orderkey"),
      u(51, nPart).as("l_partkey"), u(52, nSupp).as("l_suppkey"),
      (u(53, 7) + 1).cast("int").as("l_linenumber"),
      (u(54, 50) + 1).cast("double").as("l_quantity"),
      cents(55, 90068, 10499991).as("l_extendedprice"),
      (u(56, 11) / 100.0).as("l_discount"), (u(57, 9) / 100.0).as("l_tax"),
      pick(58, Seq("A", "N", "R")).as("l_returnflag"),
      pick(59, Seq("O", "F")).as("l_linestatus"),
      day(60, "1995-01-02", 2498).as("l_shipdate")))
    write("documents", docs(spark, seed, math.max(200L, (5000 * scale).toLong)))
  }

  val StarTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents")
}
