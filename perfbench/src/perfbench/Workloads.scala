package perfbench

import java.nio.file.{Files, Path}

import scala.util.Using

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** What the four reports must say for one dataset, in closed form from the
  * generator's key classes. Keys are unique on the source; a duplicated key
  * appears twice on the target as two identical rows.
  *
  * @param keys       the universe of keys (both sides together)
  * @param dropSrc    keys present only on the target
  * @param dropTgt    keys present only on the source
  * @param dupTgt     present-in-both keys written twice on the target
  * @param colCounts  non-key column -> present-in-both keys whose value in
  *                   that column differs beyond tolerance (one column each)
  */
final case class Expect(
    name: String,
    keys: Long,
    dropSrc: Long,
    dropTgt: Long,
    dupTgt: Long,
    colCounts: Map[String, Long]) {
  val srcCount: Long = keys - dropSrc
  val tgtCount: Long = keys - dropTgt + dupTgt
  val matched: Long = keys - dropSrc - dropTgt - colCounts.values.sum
  val status: String = if (srcCount == matched && tgtCount == matched) "PASSED" else "FAILED"
  def extracts: Map[String, Long] = colCounts.filter(_._2 > 0)
}

/** A workload's generated inputs: the job config and what its reports must say. */
final case class Inputs(configJson: String, expects: Seq[Expect], rows: Long, inputBytes: Long)

/** Key classes: `floorMod(key * 7919 + offset(seed), 10000)`. Over any run of
  * 10000 consecutive keys every class occurs exactly once, so on a table
  * whose size is a multiple of 10000 the class counts (and every expected
  * report value) do not depend on the seed; the seed moves which keys fall
  * in each class and every generated value.
  */
final case class Classes(seed: Long) {
  val offset: Long = Math.floorMod(seed * 0x9E3779B97F4A7C15L >>> 11, 10000L)
  def of(key: Long): Int = Math.floorMod(key * 7919L + offset, 10000L).toInt
  def of(key: Column): Column = pmod(key.cast("long") * 7919L + lit(offset), lit(10000L))
}

/** A perturbation of the target inside one class range `[lo, hi)`. */
sealed trait Edit { def lo: Int; def hi: Int }
final case class DropSrc(lo: Int, hi: Int) extends Edit
final case class DropTgt(lo: Int, hi: Int) extends Edit
final case class DupTgt(lo: Int, hi: Int) extends Edit
/** Changes `column` on the target; `counted` says whether the change exceeds
  * the dataset's tolerance (and so shows in the reports). */
final case class Change(lo: Int, hi: Int, column: String, f: Column => Column, counted: Boolean = true)
    extends Edit

/** One generated table: a key column over `[keyBase, keyBase + n)`, and
  * non-key columns built from the row id and a seeded hash. */
final case class Table(
    name: String,
    key: String,
    n: Long,
    keyBase: Long,
    files: Int,
    columns: (Column, String => Column) => Seq[Column],
    edits: Seq[Edit],
    tolerance: Double = 0.0)

object Workloads {
  val Names: Seq[String] = Seq("clean_gate", "drift_nested", "many_small")

  /** TPC-H row counts at scale factor 1. */
  private val Lineitem = 6000000L
  private val Orders = 1500000L

  /** Default scale factor per workload: small enough that one run (fresh
    * JVM, set-up, generation, warm-up and the timed window) fits its
    * time budget on a 4-core host. */
  val DefaultScale: Map[String, Double] =
    Map("clean_gate" -> 0.05, "drift_nested" -> 0.02, "many_small" -> 0.01)

  /** Typical warm job plus report check at the default scale on a 4-core
    * host; `--seconds` divided by it gives the number of timed jobs. */
  val NominalJobSeconds: Map[String, Double] =
    Map("clean_gate" -> 4.0, "drift_nested" -> 8.0, "many_small" -> 12.0)

  private def rows(base: Long, sf: Double): Long = math.max(1L, math.round(base * sf))

  private def pick(h: Column, values: String*): Column =
    element_at(array(values.map(lit): _*), (pmod(h, lit(values.size.toLong)) + 1).cast("int"))

  private def money(h: Column, max: Long): Column = (pmod(h, lit(max * 100)) / 100.0).cast("double")

  private def text(h: Column, prefix: String): Column = concat(lit(prefix), hex(h))

  private def day(h: Column): Column = timestamp_seconds(lit(694224000L) + pmod(h, lit(2500L)) * 86400L)

  /** lineitem with a unique surrogate key `l_id`: at sf0.1 the natural pair
    * (l_orderkey, l_linenumber) has 456,861 distinct values in 600,000 rows,
    * and a self-compare on it degenerates into the M·N cross product. */
  private def lineitem(sf: Double): Table =
    Table("lineitem", "l_id", rows(Lineitem, sf), 1L, 4, (id, h) => Seq(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(h("pk"), lit(200000L)) + 1).as("l_partkey"),
      (pmod(h("sk"), lit(10000L)) + 1).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (pmod(h("q"), lit(50L)) + 1).cast("double").as("l_quantity"),
      money(h("ep"), 100000).as("l_extendedprice"),
      (pmod(h("d"), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h("t"), lit(9L)) / 100.0).as("l_tax"),
      pick(h("rf"), "A", "N", "R").as("l_returnflag"),
      pick(h("ls"), "F", "O").as("l_linestatus"),
      day(h("sd")).as("l_shipdate"),
      text(h("c"), "li-").as("l_comment")),
      edits = Nil)

  /** orders plus a struct and a map column, with drops, duplicates and
    * perturbations on the target (class ranges out of 10000). */
  private def ordersNested(sf: Double): Table =
    Table("orders", "o_orderkey", rows(Orders, sf), 1L, 4, (id, h) => Seq(
      (pmod(h("ck"), lit(150000L)) + 1).as("o_custkey"),
      pick(h("st"), "F", "O", "P").as("o_orderstatus"),
      money(h("tp"), 500000).as("o_totalprice"),
      day(h("od")).as("o_orderdate"),
      pick(h("pr"), "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"),
      text(h("c"), "o-").as("o_comment"),
      struct(
        pick(h("sm"), "AIR", "MAIL", "RAIL", "SHIP", "TRUCK").as("mode"),
        pmod(h("sd"), lit(30L)).cast("int").as("days")).as("o_ship"),
      map(
        lit("a"), pmod(h("ma"), lit(100L)).cast("int"),
        lit("b"), pmod(h("mb"), lit(100L)).cast("int")).as("o_attrs")),
      edits = Seq(
        DropSrc(0, 100),
        DropTgt(100, 200),
        Change(200, 1000, "o_orderstatus", _ => lit("X")),
        Change(1000, 2000, "o_totalprice", _ + 0.25, counted = false),
        Change(2000, 2500, "o_totalprice", _ + 1000.0),
        Change(2500, 2900, "o_ship", c => c.withField("days", c.getField("days") + 1)),
        Change(2900, 3300, "o_attrs",
          c => map(lit("a"), element_at(c, "a"), lit("b"), element_at(c, "b") + 1)),
        Change(3300, 3500, "o_comment", concat(_, lit("!"))),
        DupTgt(3500, 3505)),
      tolerance = 0.5)

  /** Seeded drops on both sides and NULLs in one column of the target. */
  private def small(name: String, key: String, n: Long, keyBase: Long, nulled: String)(
      columns: (Column, String => Column) => Seq[Column]): Table =
    Table(name, key, n, keyBase, 1, columns, Seq(
      DropSrc(0, 300), DropTgt(300, 600), Change(600, 1000, nulled, _ => lit(null))))

  private def manySmall(sf: Double): Seq[Table] = Seq(
    small("region", "r_regionkey", 5, 0, "r_comment")((id, h) => Seq(
      pick(id, "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").as("r_name"),
      text(h("c"), "r-").as("r_comment"))),
    small("nation", "n_nationkey", 25, 0, "n_comment")((id, h) => Seq(
      text(h("n"), "N-").as("n_name"),
      (id % 5).cast("int").as("n_regionkey"),
      text(h("c"), "n-").as("n_comment"))),
    small("supplier", "s_suppkey", rows(10000, sf), 1, "s_name")((id, h) => Seq(
      text(h("n"), "Supplier#").as("s_name"),
      pmod(h("nk"), lit(25L)).cast("int").as("s_nationkey"),
      money(h("ab"), 10000).as("s_acctbal"))),
    small("customer", "c_custkey", rows(150000, sf), 1, "c_mktsegment")((id, h) => Seq(
      text(h("n"), "Customer#").as("c_name"),
      pmod(h("nk"), lit(25L)).cast("int").as("c_nationkey"),
      money(h("ab"), 10000).as("c_acctbal"),
      pick(h("ms"), "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment"))),
    small("part", "p_partkey", rows(200000, sf), 1, "p_brand")((id, h) => Seq(
      text(h("n"), "part ").as("p_name"),
      concat(lit("Brand#"), (pmod(h("b"), lit(55L)) + 11).cast("string")).as("p_brand"),
      pick(h("t"), "STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO").as("p_type"),
      (pmod(h("s"), lit(50L)) + 1).cast("int").as("p_size"),
      money(h("rp"), 2000).as("p_retailprice"))),
    small("documents", "doc_id", rows(500000, sf), 1, "lang")((id, h) => Seq(
      concat_ws(" ", text(h("t1"), "w"), text(h("t2"), "w"), text(h("t3"), "w")).as("text"),
      pick(h("l"), "en", "de", "fr", "es").as("lang"),
      pick(h("s"), "web", "news", "forum").as("source"),
      (pmod(h("n"), lit(4000L)) + 40).as("n_chars"))),
    small("events", "event_id", rows(1000000, sf), 1, "event_type")((id, h) => Seq(
      timestamp_seconds(lit(1700000000L) + pmod(h("ts"), lit(86400L * 30))).as("ts"),
      (pmod(h("u"), lit(1000L)) + 1).as("user_id"),
      pick(h("e"), "click", "view", "buy", "search").as("event_type"),
      money(h("v"), 1000).as("value"),
      to_json(map(lit("k"), pmod(h("p"), lit(10L)))).as("props"))),
    small("embeddings", "vec_id", rows(500000, sf), 1, "embedding")((id, h) => Seq(
      array((0 until 8).map(i => (pmod(h(s"e$i"), lit(2000L)) / 1000.0 - 1.0).cast("float")): _*)
        .as("embedding"),
      pmod(h("lb"), lit(10L)).cast("int").as("label"))))

  def tables(workload: String, sf: Double): Seq[Table] = workload match {
    case "clean_gate" => Seq(lineitem(sf))
    case "drift_nested" => Seq(ordersNested(sf))
    case "many_small" => manySmall(sf)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** The expected report values, counted over the key range with the same
    * class function the generator uses. */
  def expect(t: Table, classes: Classes, nonKeyCols: Seq[String]): Expect = {
    val counts = new Array[Long](10000)
    var k = t.keyBase
    while (k < t.keyBase + t.n) { counts(classes.of(k)) += 1; k += 1 }
    def in(e: Edit): Long = (e.lo until e.hi).map(counts(_)).sum
    val cols = nonKeyCols.map { c =>
      c -> t.edits.collect { case ch: Change if ch.column == c && ch.counted => in(ch) }.sum
    }.toMap
    Expect(
      name = t.name,
      keys = t.n,
      dropSrc = t.edits.collect { case e: DropSrc => in(e) }.sum,
      dropTgt = t.edits.collect { case e: DropTgt => in(e) }.sum,
      dupTgt = t.edits.collect { case e: DupTgt => in(e) }.sum,
      colCounts = cols)
  }

  /** Write the workload's source and target parquet under `dir/input` and
    * return the job config (reports under `dir/out`) with its oracle. */
  def generate(spark: SparkSession, workload: String, sf: Double, seed: Long, dir: Path): Inputs = {
    val classes = Classes(seed)
    val outDir = dir.resolve("out")
    val generated = tables(workload, sf).map { t =>
      val id = col("id")
      def h(salt: String): Column = xxhash64(lit(seed), id, lit(salt))
      val base = spark.range(0, t.n, 1, t.files)
        .select((id + t.keyBase).cast(if (t.keyBase == 0) "int" else "long").as(t.key) +: t.columns(id, h): _*)
      val cls = classes.of(col(t.key))
      def inRange(e: Edit): Column = cls >= e.lo && cls < e.hi
      def none(es: Seq[Edit]): Column = es.map(e => !inRange(e)).foldLeft(lit(true))(_ && _)
      val src = base.where(none(t.edits.collect { case e: DropSrc => e }))
      val kept = base.where(none(t.edits.collect { case e: DropTgt => e }))
      val changed = t.edits.collect { case c: Change => c }.groupBy(_.column).foldLeft(kept) {
        case (df, (c, chs)) =>
          df.withColumn(c, chs.foldLeft(col(c)) { (acc, ch) => when(inRange(ch), ch.f(col(c))).otherwise(acc) })
      }
      val tgt = changed.union(changed.where(
        t.edits.collect { case e: DupTgt => inRange(e) }.foldLeft(lit(false))(_ || _)))
      val srcPath = dir.resolve(s"input/${t.name}/source")
      val tgtPath = dir.resolve(s"input/${t.name}/target")
      src.write.parquet(srcPath.toString)
      if (t.edits.isEmpty) copyTree(srcPath, tgtPath) else tgt.write.parquet(tgtPath.toString)
      (t, srcPath, tgtPath, expect(t, classes, base.columns.toSeq.filterNot(_ == t.key)))
    }
    val datasets = generated.map { case (t, s, g, _) =>
      s"""{"params": {"dataset_name": "${t.name}", "primary_keys": ["${t.key}"],
         |  "test_params": {"difference_tolerance": ${t.tolerance}}},
         | "source_config": {"path": "$s"}, "target_config": {"path": "$g"}}""".stripMargin
    }
    val json =
      s"""{"job_name": "$workload", "normalize_row_keys": ${workload == "many_small"},
         | "dataset_configs": [${datasets.mkString(",\n")}],
         | "output_config": {"output_dir": "$outDir"}}""".stripMargin
    val expects = generated.map(_._4)
    Inputs(
      json,
      expects,
      rows = expects.map(e => e.srcCount + e.tgtCount).sum,
      inputBytes = generated.map { case (_, s, g, _) => parquetBytes(s) + parquetBytes(g) }.sum)
  }

  private def copyTree(from: Path, to: Path): Unit =
    Using.resource(Files.walk(from))(_.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    })

  /** On-disk bytes of the parquet data files under `dir`. */
  def parquetBytes(dir: Path): Long =
    Using.resource(Files.walk(dir))(
      _.filter(_.getFileName.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum())
}
