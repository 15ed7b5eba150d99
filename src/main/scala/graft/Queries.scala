package graft

import graft.functions.{TextFunctions => TF}
import graft.operators.{Classifier, Decontaminate, Dedup, Dimensions, FuzzyMatch, LmQuality, Multimodal, Ops, Packing, Ranking, Robots, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Kernels, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's query surface: one entry per operator family of
  * SURVEY.md §2 (the reference's Kettle step inventory re-expressed
  * Spark-first over the driver's TPC-H-ish tables) plus the
  * training-data-pipeline operators (dedup, ANN, text analysis,
  * multimodal plumbing) over `documents` / `embeddings`.
  *
  * Each query optionally carries equivalent ANSI SQL for the DuckDB
  * oracle. Column names are aliased identically on both sides (the driver
  * sorts columns by name before hashing); integral outputs are cast to
  * BIGINT on both sides (DuckDB widens int32/int128 differently from
  * Spark); doubles produced by aggregation are rounded to a fixed scale.
  */
object Queries {

  final case class Q(name: String,
                     run: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.parquet(s, s"$dir/$name.parquet")

  /** Per-process scratch space for queries exercising a filesystem
    * round-trip (blob export, JSONL ingest, persisted index). One stable
    * directory per query name: repeated invocations in one process —
    * the bench runs every query several times — REUSE and overwrite it
    * instead of accumulating orphaned trees in /tmp (every writer below
    * overwrites by construction: `mode("overwrite")` writes,
    * `Files.write` blob-per-object with deterministic names). The whole
    * root is removed recursively on JVM exit. */
  /** Recursive delete, LOUD on failure when `warn`: a partially failed
    * wipe (a file still held open by an executor) would silently
    * reintroduce the stale-corpus hazard the wipe exists to prevent. */
  private def deleteRecursively(f: java.io.File, warn: Boolean): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRecursively(_, warn))
    if (!f.delete() && f.exists() && warn)
      System.err.println(s"[graft] scratch wipe left $f behind — " +
        "stale files may shadow the current corpus")
  }

  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      deleteRecursively(p.toFile, warn = false) // exiting anyway
    ))
    p
  }

  /** Little-endian byte column of `v`'s low `bytes` bytes — THE shared
    * in-plan binary-construction helper (r15 review: four private
    * copies had accumulated across the fixture queries). */
  private def leCol(v: Column, bytes: Int): Column = {
    val h = lpad(hex(v), bytes * 2, "0")
    unhex(concat((0 until bytes).map(i =>
      substring(h, (bytes - 1 - i) * 2 + 1, 2)): _*))
  }

  // Hex-string counterparts of `leCol` for constructions that assemble
  // one hex string and `unhex` it once: `h2` is a byte as two hex
  // digits, `le16h` / `le32h` / `be32h` the low 2 or 4 bytes in that
  // byte order, `rep` a piece repeated `n` times.
  private def h2(c: Column): Column = lpad(hex(c), 2, "0")
  private def le16h(c: Column): Column =
    concat(h2(c.bitwiseAND(lit(255))), h2(shiftright(c, 8).bitwiseAND(lit(255))))
  private def le32h(c: Column): Column = concat(
    h2(c.bitwiseAND(lit(255))),
    h2(shiftright(c, 8).bitwiseAND(lit(255))),
    h2(shiftright(c, 16).bitwiseAND(lit(255))),
    h2(shiftright(c, 24).bitwiseAND(lit(255))))
  private def be32h(c: Column): Column = concat(
    h2(shiftright(c, 24).bitwiseAND(lit(255))),
    h2(shiftright(c, 16).bitwiseAND(lit(255))),
    h2(shiftright(c, 8).bitwiseAND(lit(255))),
    h2(c.bitwiseAND(lit(255))))
  private def rep(px: Column, n: Column): Column = array_join(array_repeat(px, n), "")

  /** The per-doc parameters shared by the in-plan raster fixtures
    * (BMP/PPM, PNG, GIF, TIFF), projected once over `docs`' `doc_id`:
    * the size `w` × `hh` (by id%3 and id%4) and its product `wh`, the
    * first pixel's colour A (`ar`, `ag`, `ab`) and the other pixels'
    * colour B (`br`, `bg`, `bb`) as ints, and each colour byte as two
    * hex digits (`ar_h` … `bb_h`). The constructions refer to these
    * with `col(...)`, so each formula sits in the plan once rather than
    * at every use (SCALING.md, "In-plan construction size"). */
  private def rasterParams(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val colours = Seq("ar" -> id, "ag" -> id * 7, "ab" -> id * 13,
      "br" -> id * 3, "bg" -> id * 5, "bb" -> id * 11)
    docs
      .select(Seq(id,
        when(pmod(id, lit(3)) === 0, 4)
          .when(pmod(id, lit(3)) === 1, 8).otherwise(16).cast("int").as("w"),
        when(pmod(id, lit(4)) === 0, 1)
          .when(pmod(id, lit(4)) === 1, 2)
          .when(pmod(id, lit(4)) === 2, 4).otherwise(8).cast("int").as("hh")) ++
        colours.map { case (n, v) => pmod(v, lit(256)).cast("int").as(n) }: _*)
      .select(Seq(col("*"), (col("w") * col("hh")).cast("int").as("wh")) ++
        colours.map { case (n, _) => h2(col(n)).as(s"${n}_h") }: _*)
  }

  /** Last stage of a hex-built fixture: `doc_id` and the `hex` column as
    * bytes (`blob`), every 7th doc cut to its first `cut` hex digits. */
  private def truncatedBlob(hexed: DataFrame, cut: Int): DataFrame =
    hexed.select(col("doc_id"),
      unhex(when(pmod(col("doc_id"), lit(7)) === 0, substring(col("hex"), 1, cut))
        .otherwise(col("hex"))).as("blob"))

  /** Lowercase hex of a byte array: how the fixtures below carry a
    * built blob into a plan literal. */
  private def hexOf(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** Uppercase hex of byte values held as ints (the JPEG fixtures). */
  private def upperHexOf(a: Array[Int]): String = a.map(b => f"$b%02X").mkString

  /** A DEFLATED ZIP archive of `(name, UTF-8 content)` members, built by
    * the JDK's ZipOutputStream with every entry stamped 1980-01-01 00:00
    * (the DOS epoch): without a set time each entry takes the clock's,
    * and the archive bytes, the plan literal made of them and every
    * hash over them would change from one build to the next. */
  private def zipArchive(members: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    members.foreach { case (n, c) =>
      val e = new java.util.zip.ZipEntry(n)
      e.setTimeLocal(java.time.LocalDateTime.of(1980, 1, 1, 0, 0))
      z.putNextEntry(e)
      z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    z.close(); bos.toByteArray
  }

  /** RFC 8878 store-mode frame built IN-PLAN: magic + single-segment
    * FHD + 4-byte FCS + raw blocks CHUNKED at Block_Maximum_Size
    * (128 KB), so the frame is spec-valid at ANY payload size. The r15
    * form packed one block whose 21-bit Block_Size field silently
    * overflowed past 2 MiB and whose raw block exceeded the 128 KB
    * maximum reference decoders enforce (r15 ADVICE) — the chunked
    * form is what [[graft.functions.ZstdKernels.compressStore]] does
    * driver-side, expressed as columns. */
  private[graft] def zstdStoreFrameCol(payload: Column): Column = {
    val cs = 131072 // Block_Maximum_Size = min(Window_Size, 128 KB)
    val n = length(payload)
    val nBlocks = greatest(ceil(n.cast("double") / cs).cast("int"), lit(1))
    val blocks = aggregate(
      sequence(lit(0), nBlocks - lit(1)),
      lit(Array.empty[Byte]),
      (acc, i) => {
        val chunk = payload.substr(i * lit(cs) + lit(1), lit(cs))
        val last = when(i === nBlocks - lit(1), lit(1)).otherwise(lit(0))
        concat(acc, leCol(shiftleft(length(chunk), 3) + last, 3), chunk)
      })
    concat(unhex(lit("28b52ffd")), unhex(lit("a0")), leCol(n, 4), blocks)
  }

  private def scratch(name: String): String = {
    val d = scratchRoot.resolve(name)
    // clear any previous contents: writers overwrite per-FILE, so if one
    // JVM ever ran the same query against two sfDirs (different doc_id
    // sets), directory-listing consumers (q_binary_ingest's read-back)
    // would otherwise see stale blobs from the earlier corpus
    if (java.nio.file.Files.exists(d)) deleteRecursively(d.toFile, warn = true)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** `events.ts` normalized to a session-UTC microsecond timestamp
    * whatever encoding the driver's current parquet uses — see
    * [[EventTime.normalizeTs]] for the type-branching contract. */
  private def events(s: SparkSession, dir: String): DataFrame =
    EventTime.normalizeTs(t(s, dir, "events"))

  // ---------------------------------------------------------------------
  // §2.2 projection / rename / retype  (SelectValues, Edit Name)
  // ---------------------------------------------------------------------
  private val qSelect = Q("q_select_rename_cast",
    (s, dir) => Ops.selectValues(t(s, dir, "lineitem"), Seq(
      ("l_orderkey", "okey", Some(LongType)),
      ("l_linenumber", "linenum", Some(LongType)),
      ("l_returnflag", "flag", None),
      ("l_partkey", "pkey_str", Some(StringType)),
      ("l_shipdate", "ship_date", Some(DateType)))),
    Some("""SELECT CAST(l_orderkey AS BIGINT) AS okey,
           |       CAST(l_linenumber AS BIGINT) AS linenum,
           |       l_returnflag AS flag,
           |       CAST(l_partkey AS VARCHAR) AS pkey_str,
           |       CAST(l_shipdate AS DATE) AS ship_date
           |FROM lineitem""".stripMargin))

  // ---------------------------------------------------------------------
  // §2.3 filters (FilterRows WHERE + true/false routing)
  // ---------------------------------------------------------------------
  private val qFilter = Q("q_filter",
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_quantity") >= 25 && col("l_returnflag") =!= "A")
      .select(col("l_orderkey").cast("bigint").as("okey"),
        col("l_linenumber").cast("bigint").as("linenum"),
        col("l_quantity").as("qty"),
        col("l_returnflag").as("flag")),
    Some("""SELECT CAST(l_orderkey AS BIGINT) AS okey,
           |       CAST(l_linenumber AS BIGINT) AS linenum,
           |       l_quantity AS qty, l_returnflag AS flag
           |FROM lineitem WHERE l_quantity >= 25 AND l_returnflag <> 'A'""".stripMargin))

  private val qFilterRouter = Q("q_filter_router",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").cast("bigint").as("okey"),
        col("l_linenumber").cast("bigint").as("linenum"),
        col("l_quantity").as("qty"))
      val (tru, fls) = Ops.filterRouter(li, col("qty") > 25)
      Ops.unionAppend(
        tru.withColumn("branch", lit("true")),
        fls.withColumn("branch", lit("false")))
    },
    Some("""SELECT CAST(l_orderkey AS BIGINT) AS okey,
           |       CAST(l_linenumber AS BIGINT) AS linenum,
           |       l_quantity AS qty,
           |       CASE WHEN l_quantity > 25 THEN 'true' ELSE 'false' END AS branch
           |FROM lineitem""".stripMargin))

  // ---------------------------------------------------------------------
  // §2.4 joins (inner / left 3-key / right / 5-way on one key)
  // ---------------------------------------------------------------------
  private val qJoinInner = Q("q_join_inner",
    (s, dir) => t(s, dir, "orders")
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey").cast("bigint").as("okey"),
        col("c_custkey").cast("bigint").as("custkey"),
        col("c_name").as("cust_name"),
        col("o_totalprice").as("total"),
        col("c_mktsegment").as("segment")),
    Some("""SELECT CAST(o_orderkey AS BIGINT) AS okey,
           |       CAST(c_custkey AS BIGINT) AS custkey,
           |       c_name AS cust_name, o_totalprice AS total,
           |       c_mktsegment AS segment
           |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin))

  /** LEFT join on a 3-part key with genuinely unmatched rows (mirrors the
    * reference's quali join J7, motogp.ktr:3654). */
  private val qJoinLeft3key = Q("q_join_left_3key",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val grp = li.groupBy("l_orderkey", "l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 4).as("grp_qty"))
        .filter(col("grp_qty") > 60)
      li.join(grp, Seq("l_orderkey", "l_returnflag", "l_linestatus"), "left")
        .select(col("l_orderkey").cast("bigint").as("okey"),
          col("l_linenumber").cast("bigint").as("linenum"),
          col("l_returnflag").as("flag"),
          col("l_linestatus").as("status"),
          col("l_quantity").as("qty"),
          col("grp_qty"))
    },
    Some("""SELECT CAST(l.l_orderkey AS BIGINT) AS okey,
           |       CAST(l.l_linenumber AS BIGINT) AS linenum,
           |       l.l_returnflag AS flag, l.l_linestatus AS status,
           |       l.l_quantity AS qty, g.grp_qty
           |FROM lineitem l LEFT JOIN (
           |  SELECT l_orderkey, l_returnflag, l_linestatus,
           |         round(sum(l_quantity), 4) AS grp_qty
           |  FROM lineitem GROUP BY 1,2,3 HAVING round(sum(l_quantity),4) > 60
           |) g ON l.l_orderkey = g.l_orderkey
           |   AND l.l_returnflag = g.l_returnflag
           |   AND l.l_linestatus = g.l_linestatus""".stripMargin))

  /** RIGHT OUTER join (mirrors J4: stats ⋈ master keeping all master
    * rows). */
  private val qJoinRight = Q("q_join_right",
    (s, dir) => {
      val agg = t(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          round(sum("o_totalprice"), 4).as("total_spent"))
      agg.join(t(s, dir, "customer"),
          agg("o_custkey") === col("c_custkey"), "right")
        .select(col("c_custkey").cast("bigint").as("custkey"),
          col("c_name").as("cust_name"), col("n_orders"),
          col("total_spent"))
    },
    Some("""SELECT CAST(c_custkey AS BIGINT) AS custkey,
           |       c_name AS cust_name, a.n_orders, a.total_spent
           |FROM (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           |             round(sum(o_totalprice), 4) AS total_spent
           |      FROM orders GROUP BY 1) a
           |RIGHT JOIN customer ON a.o_custkey = c_custkey""".stripMargin))

  /** 5-way INNER join on a single key (mirrors J12 + A1-A4: per-class
    * count legs joined inner — the INNER semantics drop keys missing any
    * leg, reproduced exactly). */
  private val qJoinMultiway = Q("q_join_multiway",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      def leg(cond: Column, as: String): DataFrame =
        li.filter(cond).groupBy("l_suppkey")
          .agg(count(lit(1)).cast("bigint").as(as))
      val sup = t(s, dir, "supplier").select(
        col("s_suppkey").cast("bigint").as("skey"), col("s_name"))
      sup
        .join(leg(col("l_linenumber") === 1, "n1"),
          sup("skey") === col("l_suppkey")).drop("l_suppkey")
        .join(leg(col("l_linenumber") === 3, "n3"),
          col("skey") === col("l_suppkey")).drop("l_suppkey")
        .join(leg(!col("l_linenumber").isin(1, 2, 3), "n_other"),
          col("skey") === col("l_suppkey")).drop("l_suppkey")
        .join(leg(col("l_linenumber") === 2, "n2"),
          col("skey") === col("l_suppkey")).drop("l_suppkey")
        .select(col("skey"), col("s_name"), col("n1"), col("n2"),
          col("n3"), col("n_other"))
    },
    Some("""SELECT CAST(s.s_suppkey AS BIGINT) AS skey, s.s_name,
           |       c1.n1, c2.n2, c3.n3, c4.n_other
           |FROM supplier s
           |JOIN (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n1
           |      FROM lineitem WHERE l_linenumber = 1 GROUP BY 1) c1
           |  ON s.s_suppkey = c1.l_suppkey
           |JOIN (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n3
           |      FROM lineitem WHERE l_linenumber = 3 GROUP BY 1) c3
           |  ON s.s_suppkey = c3.l_suppkey
           |JOIN (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_other
           |      FROM lineitem WHERE l_linenumber NOT IN (1,2,3) GROUP BY 1) c4
           |  ON s.s_suppkey = c4.l_suppkey
           |JOIN (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n2
           |      FROM lineitem WHERE l_linenumber = 2 GROUP BY 1) c2
           |  ON s.s_suppkey = c2.l_suppkey""".stripMargin))

  // ---------------------------------------------------------------------
  // §2.5 aggregation (COUNT_ALL / SUM / DISTINCT)
  // ---------------------------------------------------------------------
  private val qAgg = Q("q_agg",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_price"),
        round(avg("l_discount"), 6).as("avg_disc")),
    Some("""SELECT l_returnflag AS flag, l_linestatus AS status,
           |       CAST(count(*) AS BIGINT) AS n,
           |       round(sum(l_quantity), 4) AS sum_qty,
           |       round(sum(l_extendedprice), 4) AS sum_price,
           |       round(avg(l_discount), 6) AS avg_disc
           |FROM lineitem GROUP BY 1, 2""".stripMargin))

  private val qDistinct = Q("q_distinct",
    (s, dir) => Ops.distinctRows(
      t(s, dir, "orders")
        .select(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority")),
      Seq("status", "priority")),
    Some("SELECT DISTINCT o_orderstatus AS status, o_orderpriority AS priority FROM orders"))

  // ---------------------------------------------------------------------
  // §2.6 window rank (the reference's hand-rolled JS group rank W1)
  // ---------------------------------------------------------------------
  private val qWindowRank = Q("q_window_rank",
    (s, dir) => {
      val standings = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("bigint").as("oyear"),
          col("o_orderpriority").as("priority"))
        .agg(round(sum("o_totalprice"), 4).as("total"))
      Ops.rankInGroup(standings, Seq("oyear"),
          Seq(col("total").desc, col("priority").asc), "pos")
        .withColumn("pos", col("pos").cast("bigint"))
    },
    Some("""SELECT oyear, priority, total,
           |       CAST(row_number() OVER (PARTITION BY oyear
           |            ORDER BY total DESC, priority) AS BIGINT) AS pos
           |FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS oyear,
           |             o_orderpriority AS priority,
           |             round(sum(o_totalprice), 4) AS total
           |      FROM orders GROUP BY 1, 2) s""".stripMargin))

  // ---------------------------------------------------------------------
  // §2.7 sorts / union / keep-first dedup
  // ---------------------------------------------------------------------
  private val qSort = Q("q_sort",
    (s, dir) => t(s, dir, "customer")
      .select(col("c_custkey").cast("bigint").as("custkey"),
        col("c_name").as("cust_name"), col("c_acctbal").as("acctbal"))
      .orderBy(col("acctbal").desc, col("custkey").asc),
    Some("""SELECT CAST(c_custkey AS BIGINT) AS custkey, c_name AS cust_name,
           |       c_acctbal AS acctbal
           |FROM customer ORDER BY acctbal DESC, custkey""".stripMargin))

  /** UNION ALL of two disjoint halves then keep-first dedup by key with an
    * explicit deterministic order (mirrors Append streams + Unique rows,
    * motogp.ktr:1379/8722). */
  private val qUnionDedup = Q("q_union_dedup",
    (s, dir) => {
      val ev = events(s, dir).select(
        col("user_id").cast("bigint").as("user_id"),
        col("event_type"), col("ts"),
        col("event_id").cast("bigint").as("event_id"))
      val unioned = Ops.unionAppend(
        ev.filter(col("event_id") % 2 === 0), ev.filter(col("event_id") % 2 =!= 0))
      Ops.dedupKeepFirst(unioned, Seq("user_id", "event_type"),
        Seq(col("ts").asc, col("event_id").asc))
    },
    Some("""SELECT CAST(user_id AS BIGINT) AS user_id, event_type, ts,
           |       CAST(event_id AS BIGINT) AS event_id
           |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
           |                ORDER BY ts, event_id) AS rn FROM events) x
           |WHERE rn = 1""".stripMargin))

  // ---------------------------------------------------------------------
  // §2.8 scalar string / date functions
  // ---------------------------------------------------------------------
  private val qStringFuncs = Q("q_string_funcs",
    (s, dir) => t(s, dir, "part").select(
      col("p_partkey").cast("bigint").as("pkey"),
      upper(trim(col("p_type"))).as("type_up"),
      lower(col("p_name")).as("name_lo"),
      regexp_replace(col("p_brand"), "Brand#", "B_").as("brand_repl"),
      translate(col("p_name"), " ", "_").as("name_us")),
    Some("""SELECT CAST(p_partkey AS BIGINT) AS pkey,
           |       upper(trim(p_type)) AS type_up,
           |       lower(p_name) AS name_lo,
           |       replace(p_brand, 'Brand#', 'B_') AS brand_repl,
           |       replace(p_name, ' ', '_') AS name_us
           |FROM part""".stripMargin))

  /** Split + positional extract + re-concat (mirrors C9-C14 split/concat
    * gymnastics incl. the swapped word order). */
  private val qSplitConcat = Q("q_split_concat",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val parts = split(col("c_name"), "#")
      c.select(col("c_custkey").cast("bigint").as("custkey"),
        parts.getItem(0).as("word"),
        parts.getItem(1).as("num"),
        concat_ws("#", parts.getItem(0), parts.getItem(1)).as("rejoined"),
        concat(parts.getItem(1), lit("-"), parts.getItem(0)).as("swapped"))
    },
    Some("""SELECT CAST(c_custkey AS BIGINT) AS custkey,
           |       split_part(c_name, '#', 1) AS word,
           |       split_part(c_name, '#', 2) AS num,
           |       split_part(c_name, '#', 1) || '#' || split_part(c_name, '#', 2) AS rejoined,
           |       split_part(c_name, '#', 2) || '-' || split_part(c_name, '#', 1) AS swapped
           |FROM customer""".stripMargin))

  private val qDateParts = Q("q_date_parts",
    (s, dir) => t(s, dir, "orders").select(
      col("o_orderkey").cast("bigint").as("okey"),
      col("o_orderdate").cast("date").as("odate"),
      year(col("o_orderdate")).cast("bigint").as("oyear"),
      month(col("o_orderdate")).cast("bigint").as("omonth"),
      add_months(col("o_orderdate").cast("date"), 1).as("next_month"),
      datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
        .cast("bigint").as("days_since")),
    Some("""SELECT CAST(o_orderkey AS BIGINT) AS okey,
           |       CAST(o_orderdate AS DATE) AS odate,
           |       CAST(year(o_orderdate) AS BIGINT) AS oyear,
           |       CAST(month(o_orderdate) AS BIGINT) AS omonth,
           |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month,
           |       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
           |FROM orders""".stripMargin))

  // ---------------------------------------------------------------------
  // §2.11 deterministic contiguous sequence ids
  // ---------------------------------------------------------------------
  private val qSeqId = Q("q_seq_id",
    // the FACT-SCALE id assigner (range-partitioned two-pass, no global
    // window) under the same oracle as the dimension-scale sequenceId —
    // equal output by construction, and the benched path is the one a
    // 100 TB table would use (also: no partitionless-window warning)
    (s, dir) => Ops.zipWithIndexOrdered(
      t(s, dir, "nation").select(
        col("n_nationkey").cast("bigint").as("nkey"), col("n_name")),
      Seq(col("n_name").asc, col("nkey").asc), "seq")
      .select(col("nkey"), col("n_name"), col("seq")),
    Some("""SELECT CAST(n_nationkey AS BIGINT) AS nkey, n_name,
           |       CAST(row_number() OVER (ORDER BY n_name, n_nationkey) AS BIGINT) AS seq
           |FROM nation""".stripMargin))

  /** Edit-distance surface beside Jaro-Winkler (both engines implement
    * textbook Levenshtein): all nation × region name pairs scored. */
  private val qEditDistance = Q("q_edit_distance",
    (s, dir) => t(s, dir, "nation").crossJoin(t(s, dir, "region"))
      .select(col("n_name"), col("r_name"),
        levenshtein(col("n_name"), col("r_name")).cast("bigint").as("lev"),
        levenshtein(lower(col("n_name")), lower(col("r_name")))
          .cast("bigint").as("lev_ci")),
    Some("""SELECT n_name, r_name,
           |       CAST(levenshtein(n_name, r_name) AS BIGINT) AS lev,
           |       CAST(levenshtein(lower(n_name), lower(r_name)) AS BIGINT) AS lev_ci
           |FROM nation CROSS JOIN region""".stripMargin))

  /** Regex group extraction (Java and RE2 agree on these anchored
    * letter-class patterns). */
  private val qRegexExtract = Q("q_regex_extract",
    (s, dir) => t(s, dir, "part").select(
      col("p_partkey").cast("bigint").as("pkey"),
      regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("last_type_word"),
      regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_name_word"),
      regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num")),
    Some("""SELECT CAST(p_partkey AS BIGINT) AS pkey,
           |       regexp_extract(p_type, '([A-Z]+)$', 1) AS last_type_word,
           |       regexp_extract(p_name, '^([a-z]+)', 1) AS first_name_word,
           |       regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num
           |FROM part""".stripMargin))

  // ---------------------------------------------------------------------
  // §2.9 fuzzy best-match join (Jaro-Winkler, Kettle FuzzyMatch)
  // ---------------------------------------------------------------------
  private val qFuzzyMatch = Q("q_fuzzy_match",
    (s, dir) => {
      val nations = t(s, dir, "nation").select(
        col("n_nationkey").cast("bigint").as("nkey"), col("n_name"))
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast("bigint").as("rkey"), col("r_name"))
      // lookup "load order" = rkey asc, declared for the oracle's
      // row_number tie-break
      FuzzyMatch.bestMatchById(nations, "nkey", "n_name",
          regions, "r_name", Seq("rkey"), lookupOrder = Seq(col("rkey")))
        .withColumn("match_score", round(col("match_score"), 6))
    },
    Some("""SELECT nkey, n_name, rkey, match_value, match_score FROM (
           |  SELECT CAST(n.n_nationkey AS BIGINT) AS nkey, n.n_name,
           |         CAST(r.r_regionkey AS BIGINT) AS rkey,
           |         r.r_name AS match_value,
           |         round(jaro_winkler_similarity(lower(n.n_name), lower(r.r_name)), 6) AS match_score,
           |         row_number() OVER (PARTITION BY n.n_nationkey
           |           ORDER BY jaro_winkler_similarity(lower(n.n_name), lower(r.r_name)) DESC,
           |                    r.r_regionkey) AS rn
           |  FROM nation n CROSS JOIN region r) x
           |WHERE rn = 1""".stripMargin))

  /** Thresholded fuzzy join (round 12) — FuzzyMatch's documented
    * non-broadcast path: all part-name pairs at JW >= 0.9 via the
    * banded candidate generator (integer length bands + occurrence-
    * tagged prefix signatures, both bounds proved at
    * [[graft.functions.JaroWinkler.lengthBand]]), exact codegen-JW
    * verify. DuckDB replays the BRUTE-FORCE definition — so this row
    * being green is a machine-checked proof the pruning lost nothing
    * on this corpus, every round, on top of FuzzyMatchSpec's random-
    * string equality proof. */
  private val qFuzzyThreshold = Q("q_fuzzy_threshold",
    (s, dir) => {
      val parts = t(s, dir, "part")
      val lookup = parts.filter(pmod(col("p_partkey"), lit(20)) === 0)
        .select(col("p_partkey").as("lkey"), col("p_name").as("lname"))
      FuzzyMatch.thresholdJoin(
          parts.select(col("p_partkey").as("pkey"), col("p_name").as("pname")),
          "pkey", "pname", lookup, "lkey", "lname", tau = 0.9)
        .filter(col("pkey") =!= col("lkey"))
        .select(col("pkey").cast("bigint").as("pkey"),
          col("lkey").cast("bigint").as("lkey"),
          col("match_value"), col("match_score"))
    },
    Some("""SELECT CAST(a.p_partkey AS BIGINT) AS pkey,
           |       CAST(b.p_partkey AS BIGINT) AS lkey,
           |       b.p_name AS match_value,
           |       round(jaro_winkler_similarity(lower(a.p_name), lower(b.p_name)), 6) AS match_score
           |FROM part a, part b
           |WHERE b.p_partkey % 20 = 0 AND a.p_partkey <> b.p_partkey
           |  AND round(jaro_winkler_similarity(lower(a.p_name), lower(b.p_name)), 6) >= 0.9""".stripMargin))

  /** Semi-structured JSON column handling: schema-on-read extraction
    * from the `props` JSON string with a SINGLE typed `from_json` pass
    * (at corpus scale JSON parsing dominates this query's cost — one
    * parse per row, not two), then an aggregate over the extracted
    * field. get_json_object/from_json parser agreement is pinned in
    * SqlFunctionsSpec, not re-proved per benched row. */
  private val qJsonExtract = Q("q_json_extract",
    (s, dir) => {
      val ev = events(s, dir).select(
        col("event_type"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
      ev.filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          round(avg(col("k")), 4).as("avg_k"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |       CAST(min(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
           |       CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
           |       round(avg(CAST(props->>'$.k' AS BIGINT)), 4) AS avg_k
           |FROM events
           |WHERE CAST(props->>'$.k' AS BIGINT) IS NOT NULL
           |GROUP BY 1""".stripMargin))

  /** The full analytic-window surface beyond row_number: lag/lead,
    * ntile, percent_rank, cume_dist, and a running sum — one query, all
    * oracle-checked (the ORDER BY is total-ordered via the okey
    * tie-break, so peer-sensitive functions are deterministic). */
  private val qWindowSuite = Q("q_window_suite",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("priority"))
        .orderBy(col("total").asc, col("okey").asc)
      t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("okey"),
          col("o_orderpriority").as("priority"),
          col("o_totalprice").as("total"))
        .withColumn("prev_total", lag(col("total"), 1).over(w))
        .withColumn("next_total", lead(col("total"), 1).over(w))
        .withColumn("quartile", ntile(4).over(w).cast("bigint"))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cume", round(cume_dist().over(w), 6))
        .withColumn("running", round(sum(col("total"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
    },
    Some("""SELECT CAST(o_orderkey AS BIGINT) AS okey,
           |       o_orderpriority AS priority, o_totalprice AS total,
           |       lag(o_totalprice) OVER w AS prev_total,
           |       lead(o_totalprice) OVER w AS next_total,
           |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           |       round(percent_rank() OVER w, 6) AS pct_rank,
           |       round(cume_dist() OVER w, 6) AS cume,
           |       round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority
           |             ORDER BY o_totalprice, o_orderkey
           |             ROWS UNBOUNDED PRECEDING), 4) AS running
           |FROM orders
           |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)""".stripMargin))

  // ---------------------------------------------------------------------
  // time-window aggregation over the events stream table
  // ---------------------------------------------------------------------
  private val qEventsHourly = Q("q_events_hourly",
    (s, dir) => events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        round(sum("value"), 4).as("sum_value")),
    Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       round(sum(value), 4) AS sum_value
           |FROM events GROUP BY 1, 2""".stripMargin))

  // ---------------------------------------------------------------------
  // Deduplication suite (documents)
  // ---------------------------------------------------------------------
  private val qDedupExact = Q("q_dedup_exact",
    (s, dir) => Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
      .select(col("keep_id").cast("bigint").as("keep_id"),
        col("dup_count").cast("bigint").as("dup_count")),
    // oracle groups by the same normalized content (the engine hashes it;
    // equal unless xxhash64 collides). Whitespace class is spelled out:
    // Java \s (the engine) includes \x0B, RE2's \s (DuckDB) does not.
    Some("""SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
           |       CAST(count(*) AS BIGINT) AS dup_count
           |FROM documents
           |GROUP BY lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))""".stripMargin))

  /** Ingestion-time dedup: docs with `doc_id % 4 = 0` stand in for the
    * already-indexed corpus ([[Dedup.fingerprints]]), the rest arrive as
    * the new batch — [[Dedup.incrementalExact]] admits first-in-batch
    * rows whose content the index has never seen. The oracle replays
    * admission with NOT EXISTS on the same normalized content (equal to
    * the fingerprint anti-join up to xxhash64 collisions, the contract
    * every fingerprint dedup here accepts) and keep-first with GROUP BY.
    */
  private val qIncrementalDedup = Q("q_incremental_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val history = Dedup.fingerprints(docs.filter(col("doc_id") % 4 === 0), "text")
      Dedup.incrementalExact(docs.filter(col("doc_id") % 4 =!= 0), history,
          "text", "doc_id")
        .select(col("doc_id").cast("bigint").as("doc_id"))
    },
    Some("""WITH hist AS (
           |  SELECT lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS k
           |  FROM documents WHERE doc_id % 4 = 0),
           |newb AS (
           |  SELECT doc_id,
           |         lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS k
           |  FROM documents WHERE doc_id % 4 <> 0)
           |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
           |FROM newb n
           |WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.k = n.k)
           |GROUP BY k""".stripMargin))

  /** Ingestion-time NEAR-dup: the same history/batch split as
    * [[qIncrementalDedup]], with the corpus carried as its
    * [[Dedup.minhashIndex]] (band keys + signatures — never text) and
    * pairs scored by signature agreement. Self-verifying: ≥90% of the
    * TRUE cross-set ≥0.5-Jaccard pairs (exact blocked 5-gram Jaccard —
    * the operator q_ngram_jaccard hash-checks) must be recovered or the
    * query answers ZERO rows; the floor prices banding loss plus
    * estimator noise, same contract as q_dedup_minhash.
    */
  private val qIncrementalMinhash = Q("q_incremental_minhash",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val hist = docs.filter(col("doc_id") % 4 === 0)
      val batch = docs.filter(col("doc_id") % 4 =!= 0)
      val (idxBands, idxSigs) = Dedup.minhashIndex(hist, "text", "doc_id")
      val out = Dedup.incrementalMinhash(batch, idxBands, idxSigs,
        "text", "doc_id")
      val truth = Dedup.ngramJaccardPairs(
        docs.withColumn("blk",
          concat(col("lang"), lit("#"), pmod(col("doc_id"), lit(16)).cast("string"))),
        "text", "doc_id", "blk", n = 5, minJaccard = 0.5)
        .filter((col("id_a") % 4 === 0) =!= (col("id_b") % 4 === 0))
        .select(
          when(col("id_a") % 4 =!= 0, col("id_a")).otherwise(col("id_b")).as("new_id"),
          when(col("id_a") % 4 === 0, col("id_a")).otherwise(col("id_b")).as("hist_id"))
      Ops.recallGate(out, truth, Seq("new_id", "hist_id"), floor = 0.9)
        .select(col("new_id").cast("bigint").as("new_id"),
          col("hist_id").cast("bigint").as("hist_id"),
          col("est_jaccard"), col("recall"))
    },
    // round 8: exact DuckDB recomputation (see OracleSqlGen)
    Some(OracleSqlGen.incrementalMinhash))

  /** Incremental embedding near-dup through a PERSISTED IVF index,
    * probed exhaustively (nProbes = nCentroids) so the result is the
    * exact cross-split threshold join and sits fully under the DuckDB
    * oracle — index build, partitioned write, centroid probe, unit
    * normalization, and threshold scoring all hash-checked end to end.
    * The pruned-probe recall/IO tradeoff of the same machinery is
    * gated by q_ann_ivf and measured in SimilaritySpec; kmeans
    * nondeterminism can't leak into the output because an exhaustive
    * probe scores every (batch, history) pair regardless of which list
    * each vector landed in. */
  private val qIncrementalEmbedding = Q("q_incremental_embedding",
    (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      val hist = emb.filter(pmod(col("vec_id"), lit(4)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
      val idxDir = scratch("ivf_inc")
      Similarity.buildIvfIndex(hist, "embedding", "vec_id", idxDir,
        nCentroids = 8)
      Dedup.incrementalEmbedding(batch, idxDir, "embedding", "vec_id",
          threshold = 0.4, nProbes = 8)
        .select(col("new_id").cast("bigint").as("new_id"),
          col("hist_id").cast("bigint").as("hist_id"), col("cosine"))
    },
    Some("""WITH e AS (SELECT vec_id,
           |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |           FROM embeddings WHERE embedding IS NOT NULL)
           |SELECT CAST(a.vec_id AS BIGINT) AS new_id,
           |       CAST(b.vec_id AS BIGINT) AS hist_id,
           |       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
           |FROM e a JOIN e b
           |  ON a.vec_id % 4 = 0 AND b.vec_id % 4 <> 0
           |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4""".stripMargin))

  /** The incremental ingest screen against a PRODUCT-QUANTIZED history
    * index (round 13, VERDICT r12 #5): same hist/batch split as
    * [[qIncrementalEmbedding]], but the persisted index stores (codes,
    * unit_vec) per list and the probe's candidate scan reads 4 longs
    * per historical vector instead of 64 floats — the memory tier the
    * 24/7 ingest story needs. Probes are exhaustive (8/8 lists) while
    * the ADC shortlist depth (rerank = 80) is the PRUNED budget, so the
    * PQ codes are LOAD-BEARING here: a broken encode/ADC would reorder
    * the shortlist, drop true pairs, and trip the recall gate (floor
    * 0.7) — while the DuckDB oracle replays the whole chain (coarse
    * Lloyd on hist → residuals → PQ training → encode → ADC → shortlist
    * → exact refine → threshold) so any drift is also a hash mismatch.
    */
  private val qIncrementalEmbeddingPq = Q("q_incremental_embedding_pq",
    (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      val hist = emb.filter(pmod(col("vec_id"), lit(4)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
      val idxDir = scratch("ivfpq_inc")
      Similarity.buildIvfPqIndex(hist, "embedding", "vec_id", idxDir,
        nCentroids = 8, kmeansIters = 3, pqM = 4, pqCodes = 8, pqIters = 2)
      val out = Dedup.incrementalEmbeddingPq(batch, idxDir, "embedding",
        "vec_id", threshold = 0.4, nProbes = 8, rerank = 80)
      // r18: the truth side is a quadratic brute-force audit (batch ×
      // broadcast history cosines) running in the STREAMED side's tasks
      // — StageProbe showed it serialized on the single parquet split
      // as the two dominant 1.2 s single-task stages. Fan the narrow
      // batch projection out (cost-gated; no-op at real scan
      // parallelism — guide §2.5).
      val truth = Ops.fanOutForCompute(
          emb.filter(pmod(col("vec_id"), lit(4)) === 0)
            .select(col("vec_id").as("new_id"), col("embedding").as("__a")),
          32 * 1024L, col("new_id"))
        .crossJoin(broadcast(hist
          .select(col("vec_id").as("hist_id"), col("embedding").as("__b"))))
        .filter(round(Kernels.vectorCosine(col("__a"), col("__b")), 6) >= 0.4)
        .select("new_id", "hist_id")
      Ops.recallGate(out, truth, Seq("new_id", "hist_id"), floor = 0.7)
        .select(col("new_id").cast("bigint").as("new_id"),
          col("hist_id").cast("bigint").as("hist_id"),
          col("cosine"), col("recall"))
    },
    Some(OracleSqlGen.incrementalEmbeddingPq))

  /** MinHash+LSH with a SELF-VERIFYING recall gate: the plan joins the
    * LSH output against the EXACT blocked-Jaccard operator (the same
    * one q_ngram_jaccard hash-checks against DuckDB) over (lang,
    * doc_id%16) blocks in the SAME 5-gram shingle space, and returns
    * ZERO ROWS if fewer than 90% of the blocks' true >=0.5-Jaccard
    * pairs were recovered — the driver's rows>0 check is load-bearing,
    * not "returned something". Blocked truth keeps the quadratic
    * reference stage at 1/16th of the all-pairs cost (the shape a real
    * recall audit uses at corpus scale) while staying well-populated at
    * every SF. Measured recall at sf0.01/sf0.1: 1.0 — this corpus's
    * near-dups are high-Jaccard, where 16-hash/4-band collision
    * probability is ~0.99; floor 0.9 leaves noise headroom while any
    * broken hash family still trips it.
    */
  private val qDedupMinhash = Q("q_dedup_minhash",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val out = Dedup.minhashLsh(docs, "text", "doc_id",
        shingleSize = 5, numHashes = 16, bands = 4, threshold = 0.5)
      val truth = Dedup.ngramJaccardPairs(
        docs.withColumn("blk",
          concat(col("lang"), lit("#"), pmod(col("doc_id"), lit(16)).cast("string"))),
        "text", "doc_id", "blk", n = 5, minJaccard = 0.5)
      Ops.recallGate(out, truth, Seq("id_a", "id_b"), floor = 0.9)
        .select(col("id_a").cast("bigint").as("id_a"),
          col("id_b").cast("bigint").as("id_b"), col("jaccard"), col("recall"))
    },
    // round 8: the xxhash64 pipeline IS oracle-expressible — DuckDB
    // recomputes it bit-for-bit via generated modular arithmetic
    Some(OracleSqlGen.dedupMinhash))

  /** SimHash with a recall gate at floor 1.0: banding is provably
    * complete for maxHamming <= bands-1 (pigeonhole), so the banded
    * output must match the exact all-pairs reference EXACTLY — any
    * deviation (a broken band split, a cap silently dropping members)
    * empties the result. Precision is 1.0 by construction (candidates
    * are re-verified with bit_count(xor)), so gated recall 1.0 means
    * the approximate plan IS the exact answer.
    */
  private val qDedupSimhash = Q("q_dedup_simhash",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val out = Dedup.simhashPairs(docs, "text", "doc_id",
        maxHamming = 3, bands = 4)
      // doc_id%2==0 subset halves each side of the quadratic reference
      // (¼ of the sketch compares); completeness must still be EXACT on
      // every surviving truth pair, so floor 1.0 loses nothing
      val truth = Dedup.simhashPairsExact(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id", maxHamming = 3)
      Ops.recallGate(out, truth, Seq("id_a", "id_b"), floor = 1.0)
        .select(col("id_a").cast("bigint").as("id_a"),
          col("id_b").cast("bigint").as("id_b"),
          col("hamming").cast("bigint").as("hamming"), col("recall"))
    },
    // round 8: exact DuckDB recomputation of the murmur3 sketches; the
    // complete-banding proof reduces the oracle to all-pairs Hamming<=3
    Some(OracleSqlGen.dedupSimhash))

  /** Exact n-gram Jaccard pairs within (lang, doc_id-modulo) blocks.
    * The block count is fixed, so block SIZE — and therefore the
    * quadratic pair stage — scales WITH the data (a fixed doc-id cap
    * made the old bench number scale-insensitive), while the modulo
    * sub-blocking keeps "exact pairwise verification" from degenerating
    * into an all-pairs scan of the whole language (16× fewer pairs at
    * every SF — the shape a real dedup-verify stage uses after
    * candidate blocking). */
  private val qNgramJaccard = Q("q_ngram_jaccard",
    // concat, NOT concat_ws (here and in the two cluster queries below):
    // a NULL lang must produce a NULL block key that never equi-joins,
    // matching the oracle's null-propagating `lang || '#' || …`
    (s, dir) => Dedup.ngramJaccardPairs(
      t(s, dir, "documents").withColumn("blk",
        concat(col("lang"), lit("#"), pmod(col("doc_id"), lit(16)).cast("string"))),
      "text", "doc_id", "blk", n = 3, minJaccard = 0.2)
      .select(col("id_a").cast("bigint").as("id_a"),
        col("id_b").cast("bigint").as("id_b"), col("jaccard")),
    Some("""WITH t AS (
           |  SELECT doc_id, lang || '#' || CAST(doc_id % 16 AS VARCHAR) AS blk,
           |         lower(trim(text)) AS s
           |  FROM documents
           |), sh AS (
           |  SELECT doc_id, blk,
           |         CASE WHEN len(s) <= 3 THEN [s]
           |              ELSE list_distinct([substr(s, i, 3) for i in range(1, len(s) - 1)])
           |         END AS g
           |  FROM t)
           |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
           |       CAST(b.doc_id AS BIGINT) AS id_b,
           |       round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
           |             / len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
           |FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
           |WHERE round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
           |            / len(list_distinct(list_concat(a.g, b.g))), 6) >= 0.2""".stripMargin))

  /** Threshold 0.4 is REACHABLE on this corpus (max pairwise cosine
    * ≈ 0.5 on the synthetic embeddings — the old 0.9 cutoff returned 0
    * rows at every SF, verifying nothing; 59 all-pair candidates clear
    * 0.4 at sf0.01, of which 4-bit buckets catch a double-digit share).
    * Near-dup SEMANTICS (planted duplicates, recall floor) are pinned in
    * [[graft.DedupSpec]]; this query pins the bucketed plan shape on
    * real data with a non-empty result. */
  /** Near-dup pair graph → connected components (the step that turns
    * pairwise candidates into dedup groups). Oracle = a DuckDB
    * RECURSIVE transitive closure over the identical pair query, so the
    * distributed label propagation is checked against an independent
    * exact algorithm. */
  /** The near-dup pair graph both cluster queries run over. */
  private def dupPairGraph(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      t(s, dir, "documents").withColumn("blk",
        concat(col("lang"), lit("#"), pmod(col("doc_id"), lit(16)).cast("string"))),
      "text", "doc_id", "blk", n = 3, minJaccard = 0.5)

  private val qDupClusters = Q("q_dup_clusters",
    (s, dir) => Dedup.dupClusters(dupPairGraph(s, dir))
      .select(col("id").cast("bigint").as("id"),
        col("cluster").cast("bigint").as("cluster")),
    Some("""WITH RECURSIVE t AS (
           |  SELECT doc_id, lang || '#' || CAST(doc_id % 16 AS VARCHAR) AS blk,
           |         lower(trim(text)) AS s
           |  FROM documents
           |), sh AS (
           |  SELECT doc_id, blk,
           |         CASE WHEN len(s) <= 3 THEN [s]
           |              ELSE list_distinct([substr(s, i, 3) for i in range(1, len(s) - 1)])
           |         END AS g
           |  FROM t
           |), pairs AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
           |  WHERE round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
           |              / len(list_distinct(list_concat(a.g, b.g))), 6) >= 0.5
           |), edges AS (
           |  SELECT id_a AS a, id_b AS b FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs
           |), reach(a, b) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
           |), nodes AS (SELECT DISTINCT a AS id FROM edges)
           |SELECT CAST(n.id AS BIGINT) AS id,
           |       CAST(least(n.id, min(r.b)) AS BIGINT) AS cluster
           |FROM nodes n LEFT JOIN reach r ON n.id = r.a
           |GROUP BY n.id""".stripMargin))

  /** Same pair graph, same recursive-closure oracle — but
    * `localEdgeLimit = 0` FORCES the distributed large-star / small-star
    * loop, so the code path a 100 TB corpus would take (one RDD job per
    * round over a hash-partitioned edge set, never a driver
    * materialization) is itself hash-checked against DuckDB's exact
    * transitive closure. Without this entry the oracle checks would
    * only exercise the bounded driver-side union-find fast path (the
    * sf0.1 edge graph fits it), leaving the scale path unchecked.
    */
  private val qDupClustersDist = Q("q_dup_clusters_dist",
    (s, dir) => Dedup.dupClusters(dupPairGraph(s, dir), localEdgeLimit = 0L)
      .select(col("id").cast("bigint").as("id"),
        col("cluster").cast("bigint").as("cluster")),
    qDupClusters.oracle)

  /** Leakage-safe train/val/test assignment: the near-dup clusters the
    * queries above discover become split UNITS, so a held-out document
    * can never have a near-duplicate in train. The oracle recomputes
    * the whole chain independently — pair graph, exact transitive
    * closure, md5-bucket assignment — so the hash check covers both the
    * cluster→unit coalescing and the unit-hash arithmetic. Per-doc
    * output: the FULL (doc_id, split) mapping is pinned, not just its
    * per-split counts. */
  private val qSplitClusterSafe = Q("q_split_cluster_safe",
    (s, dir) => Ops.clusterSafeSplit(
      t(s, dir, "documents").select(col("doc_id").cast("bigint").as("doc_id")),
      "doc_id", Dedup.dupClusters(dupPairGraph(s, dir)), "leak-0",
      Seq(("train", 8), ("val", 1), ("test", 1)))
      .select(col("doc_id"), col("split")),
    Some("""WITH RECURSIVE t AS (
           |  SELECT doc_id, lang || '#' || CAST(doc_id % 16 AS VARCHAR) AS blk,
           |         lower(trim(text)) AS s
           |  FROM documents
           |), sh AS (
           |  SELECT doc_id, blk,
           |         CASE WHEN len(s) <= 3 THEN [s]
           |              ELSE list_distinct([substr(s, i, 3) for i in range(1, len(s) - 1)])
           |         END AS g
           |  FROM t
           |), pairs AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
           |  WHERE round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
           |              / len(list_distinct(list_concat(a.g, b.g))), 6) >= 0.5
           |), edges AS (
           |  SELECT id_a AS a, id_b AS b FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs
           |), reach(a, b) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
           |), cl AS (
           |  SELECT a AS id, least(a, min(b)) AS cluster
           |  FROM reach GROUP BY a
           |), u AS (
           |  SELECT d.doc_id,
           |         ('0x' || substr(md5(CAST(COALESCE(c.cluster, d.doc_id) AS VARCHAR)
           |            || ':leak-0'), 1, 8))::BIGINT % 10 AS slot
           |  FROM documents d LEFT JOIN cl c ON d.doc_id = c.id)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CASE WHEN slot < 8 THEN 'train'
           |            WHEN slot = 8 THEN 'val'
           |            ELSE 'test' END AS split
           |FROM u""".stripMargin))

  /** Corrupt-record-routed ingestion under the oracle, build→read
    * round-trip like q_image_meta: the documents table is serialized to
    * JSONL with every 7th line deliberately truncated mid-object, then
    * read back through [[graft.sources.Ingest.readJsonlTagged]]
    * (text + from_json, one scan, verbatim quarantine channel). The
    * oracle recomputes the expected routing from the corruption rule
    * alone, so the hash check pins both directions: no good line is
    * quarantined, no corrupt line slips through, and good payloads
    * survive the round-trip byte-exactly.
    *
    * Quarantined rows deliberately surface ONLY doc_id (recovered from
    * the verbatim line) — PERMISSIVE partial fills on a torn record are
    * parser-version-dependent and must never be mistaken for data. */
  private val qIngestRouted = Q("q_ingest_routed",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("bigint").as("doc_id"), col("lang"),
          col("n_chars").cast("bigint").as("n_chars"))
      val tmp = scratch("ingest")
      docs.select(
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"lang\": ")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"),
            col("n_chars")))).as("value"))
        .write.mode("overwrite").text(tmp)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      val tagged = graft.sources.Ingest.readJsonlTagged(s, tmp, schema)
      val corrupt = col("_corrupt_record").isNotNull
      tagged.select(
        coalesce(col("doc_id"),
          regexp_extract(col("_corrupt_record"), "\"doc_id\": ([0-9]+)", 1)
            .cast("bigint")).as("doc_id"),
        when(corrupt, lit(null)).otherwise(col("lang")).as("lang"),
        when(corrupt, lit(null)).otherwise(col("n_chars"))
          .cast("bigint").as("n_chars"),
        when(corrupt, lit("corrupt")).otherwise(lit("good")).as("status"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
           |       CASE WHEN doc_id % 7 = 0 THEN NULL
           |            ELSE CAST(n_chars AS BIGINT) END AS n_chars,
           |       CASE WHEN doc_id % 7 = 0 THEN 'corrupt'
           |            ELSE 'good' END AS status
           |FROM documents""".stripMargin))

  /** The dedup path END-TO-END under one oracle: exact pair detection →
    * connected components → drop non-representatives → chunk-budget
    * accounting on the survivors. Every stage is oracle-expressible, so
    * the COMPOSITION is hash-checked, not just each operator alone. */
  private val qDedupPipeline = Q("q_dedup_pipeline",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(
        docs.withColumn("blk",
          concat(col("lang"), lit("#"), pmod(col("doc_id"), lit(16)).cast("string"))),
        "text", "doc_id", "blk", n = 3, minJaccard = 0.5)
      Dedup.dedupByPairs(docs, "doc_id", pairs)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(size(Kernels.chunkText(col("text"), 50, 5)))
            .cast("bigint").as("n_chunks"))
    },
    Some("""WITH RECURSIVE t AS (
           |  SELECT doc_id, lang || '#' || CAST(doc_id % 16 AS VARCHAR) AS blk,
           |         lower(trim(text)) AS s
           |  FROM documents
           |), sh AS (
           |  SELECT doc_id, blk,
           |         CASE WHEN len(s) <= 3 THEN [s]
           |              ELSE list_distinct([substr(s, i, 3) for i in range(1, len(s) - 1)])
           |         END AS g
           |  FROM t
           |), pairs AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
           |  WHERE round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
           |              / len(list_distinct(list_concat(a.g, b.g))), 6) >= 0.5
           |), edges AS (
           |  SELECT id_a AS a, id_b AS b FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs
           |), reach(a, b) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
           |), losers AS (
           |  SELECT a AS id FROM reach GROUP BY a HAVING min(b) < a
           |), kept AS (
           |  SELECT * FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
           |), ch AS (
           |  SELECT lang,
           |         CASE WHEN len(trim(text)) = 0 THEN 0
           |              ELSE len(range(0, len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')), 45))
           |         END AS n_chunks
           |  FROM kept)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chunks) AS BIGINT) AS n_chunks
           |FROM ch GROUP BY 1""".stripMargin))

  /** LSH-bucketed embedding near-dup, recall-gated against the exact
    * all-pairs reference: zero rows if the buckets recover < 40% of the
    * true >=0.4-cosine pairs. 3 bits × 4 bands measured 0.51 (sf0.01) /
    * 0.70 (sf0.1) — these synthetic embeddings are near-uniform, so
    * 0.4-cosine pairs sit close to the hyperplane boundary where
    * random-hyperplane LSH is weakest; real near-dup corpora (planted
    * ~0.999-cosine copies, see DedupSpec) recall >= 0.9 with fewer
    * resources. The exact truth side is O(n²) sketch-free dot products;
    * its cost is DECLARED via `truthSampleOneIn` (here one-in-2 → ¼ of
    * the compares) rather than hand-edited — a corpus-scale run raises
    * the divisor and the compare count falls with its square.
    */
  private val qEmbeddingNearDup = Q("q_embedding_neardup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val out = Dedup.embeddingNearDup(emb,
        "embedding", "vec_id", threshold = 0.4, lshBits = 3, bands = 4)
      // declared audit budget: one-in-2 id sample = ¼ of the quadratic
      // truth compares; recall over the deterministic pair subfamily
      // gates just as hard (at corpus scale raise truthSampleOneIn)
      val truth = Dedup.embeddingNearDupExact(emb, "embedding", "vec_id",
        threshold = 0.4, truthSampleOneIn = 2)
      Ops.recallGate(out, truth, Seq("id_a", "id_b"), floor = 0.4)
        .select(col("id_a").cast("bigint").as("id_a"),
          col("id_b").cast("bigint").as("id_b"), col("cosine"), col("recall"))
    },
    // oracled since r9: tools/ann_margin_audit.py measured every float
    // decision (hyperplane signs, 0.4 threshold) orders of magnitude
    // clear of engine noise — see OracleSqlGen ANN section
    Some(OracleSqlGen.embeddingNearDup))

  /** Array / higher-order-function surface over the embedding column
    * (the hot ANN paths use codegen kernels instead — the `vector_*`
    * Kernels entries — but general array manipulation is part of the
    * user-facing engine). Outputs are comparison-exact (min/max/counts/
    * element access), so no float-summation-order hazards. */
  private val qArrayFuncs = Q("q_array_funcs",
    (s, dir) => {
      val d = col("embedding").cast("array<double>")
      // null guard on BOTH sides: Spark's size(NULL) is -1 (legacy
      // sizeOfNull) while DuckDB's len(NULL) is NULL — a null row would
      // break parity asymmetrically
      t(s, dir, "embeddings").filter(col("embedding").isNotNull).select(
        col("vec_id").cast("bigint").as("vec_id"),
        size(d).cast("bigint").as("dim"),
        round(array_min(d), 6).as("min_e"),
        round(array_max(d), 6).as("max_e"),
        size(filter(d, x => x > 0)).cast("bigint").as("n_pos"),
        round(element_at(d, 1), 6).as("e0"),
        round(element_at(reverse(array_sort(d)), 2), 6).as("second_largest"))
    },
    Some("""SELECT CAST(vec_id AS BIGINT) AS vec_id,
           |       CAST(len(embedding) AS BIGINT) AS dim,
           |       round(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS min_e,
           |       round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS max_e,
           |       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           |       round(CAST(embedding[1] AS DOUBLE), 6) AS e0,
           |       round(list_reverse_sort(list_transform(embedding, x -> CAST(x AS DOUBLE)))[2], 6) AS second_largest
           |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin))

  // ---------------------------------------------------------------------
  // Similarity search (ANN)
  // ---------------------------------------------------------------------
  private val qAnnBrute = Q("q_ann_brute",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 16),
          "embedding", "vec_id", k = 5)
        .select(col("query_id").cast("bigint").as("query_id"),
          col("corpus_id").cast("bigint").as("corpus_id"),
          col("cosine"), col("rank").cast("bigint").as("rank"))
    },
    Some("""WITH q AS (SELECT vec_id AS qid,
           |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           |           FROM embeddings WHERE vec_id < 16),
           |     c AS (SELECT vec_id AS cid,
           |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           |           FROM embeddings)
           |SELECT CAST(qid AS BIGINT) AS query_id, CAST(cid AS BIGINT) AS corpus_id,
           |       cosine, CAST(rn AS BIGINT) AS rank
           |FROM (SELECT qid, cid,
           |             round(list_cosine_similarity(qv, cv), 6) AS cosine,
           |             row_number() OVER (PARTITION BY qid
           |               ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC, cid) AS rn
           |      FROM q, c WHERE qid <> cid) x
           |WHERE rn <= 5""".stripMargin))

  /** IVF probe recall-gated against the exact brute-force top-k: zero
    * rows if the probed inverted lists recover < 70% of the true top-5
    * neighbor pairs. Measured 0.83 (sf0.01) / 0.96 (sf0.1) with 16
    * centroids × 2 probes. The truth side is exactly [[qAnnBrute]]'s
    * plan (queries broadcast, corpus streams) — the offline recall-audit
    * job a production IVF deployment runs on a sampled query set.
    */
  private val qAnnIvf = Q("q_ann_ivf",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 16)
      val out = Similarity.ivfTopK(emb, q,
        "embedding", "vec_id", k = 5, nCentroids = 16, nProbes = 2)
      val truth = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
      Ops.recallGate(out, truth, Seq("query_id", "corpus_id"), floor = 0.7)
        .select(col("query_id").cast("bigint").as("query_id"),
          col("corpus_id").cast("bigint").as("corpus_id"),
          col("cosine"), col("rank").cast("bigint").as("rank"), col("recall"))
    },
    // oracled since r9: the Lloyd chain replays in DuckDB; assignment
    // margins (>= 2.3e-4, audited) dwarf the reduceByKey mean-order
    // nondeterminism (~1e-14) — see OracleSqlGen ANN section
    Some(OracleSqlGen.annIvf))

  /** IVF-PQ (round 12): the coarse-quantizer probe of [[qAnnIvf]] with
    * product-quantized residuals — corpus vectors travel the candidate
    * join as (list id, 4 codes) instead of 64 floats (the ~128×
    * memory/shuffle tier a 100 TB vector corpus needs), ADC-scored in
    * O(M) per candidate, top-24 shortlist re-ranked EXACTLY, top-5 out,
    * recall-gated vs brute force. Floor 0.4 (measured 0.725 at sf0.01:
    * the probe budget caps recall like plain IVF — 0.825 here — and PQ
    * shortlist noise costs the rest; SimilaritySpec pins ≥0.3 recall on
    * gaussian data and exact-score parity of the refine). The oracle
    * replays the ENTIRE pipeline in DuckDB — coarse chain, residuals,
    * 2-iteration PQ training, ADC, shortlist, refine — sound because
    * the measured float margins (assignment 8.3e-6, rounding-boundary
    * 2.2e-10) dwarf summation-order noise (~1e-13). */
  private val qAnnIvfPq = Q("q_ann_ivfpq",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 16)
      val out = Similarity.ivfPqTopK(emb, q, "embedding", "vec_id", k = 5,
        nCentroids = 16, nProbes = 2, pqM = 4, pqCodes = 8, pqIters = 2,
        rerank = 24)
      val truth = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
      Ops.recallGate(out, truth, Seq("query_id", "corpus_id"), floor = 0.4)
        .select(col("query_id").cast("bigint").as("query_id"),
          col("corpus_id").cast("bigint").as("corpus_id"),
          col("cosine"), col("rank").cast("bigint").as("rank"), col("recall"))
    },
    Some(OracleSqlGen.annIvfPq))

  /** Multi-probe LSH recall-gated against exact brute force: 4 bits ×
    * (1 + 4 sign-flip probes) measured 0.54 (sf0.01) / 0.56 (sf0.1) —
    * near-uniform synthetic vectors are LSH's adversarial case (no
    * cluster structure for buckets to exploit; cf. 0.04 recall at the
    * old 6-bit single-probe setting, which verified nothing). Floor 0.4
    * trips on any degradation of the hash family while documenting the
    * honest ceiling here; SimilaritySpec pins >= 0.9 recall on
    * clustered data where LSH actually earns its keep.
    */
  private val qAnnLsh = Q("q_ann_lsh",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 16)
      val out = Similarity.lshTopK(emb, q,
        "embedding", "vec_id", k = 5, nBits = 4)
      val truth = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
      Ops.recallGate(out, truth, Seq("query_id", "corpus_id"), floor = 0.4)
        .select(col("query_id").cast("bigint").as("query_id"),
          col("corpus_id").cast("bigint").as("corpus_id"),
          col("cosine"), col("rank").cast("bigint").as("rank"), col("recall"))
    },
    // oracled since r9: hyperplane sign margins >= 5.0e-5 (audited,
    // zero f32/f64 flips) — see OracleSqlGen ANN section
    Some(OracleSqlGen.annLsh))

  // ---------------------------------------------------------------------
  // Text analysis (documents)
  // ---------------------------------------------------------------------
  private val qTextStats = Q("q_text_stats",
    (s, dir) => {
      // one TextStats kernel pass per document; ratios/argmax composed in
      // column space with the same arithmetic as the oracle SQL
      val withStats = t(s, dir, "documents")
        .withColumn("__st", Kernels.textStats(col("text")))
      val st = col("__st")
      val nChars = st.getField("n_chars")
      val nTokens = st.getField("n_tokens")
      val punctRaw = when(nChars === 0, lit(0.0))
        .otherwise(st.getField("n_punct").cast("double") / nChars.cast("double"))
      val stopRaw = when(nTokens === 0, lit(0.0))
        .otherwise(st.getField("hits_en").cast("double") / nTokens.cast("double"))
      val Seq(en, fr, es, de) = Seq("hits_en", "hits_fr", "hits_es", "hits_de")
        .map(st.getField)
      val best = greatest(en, fr, es, de)
      withStats.select(
        col("doc_id").cast("bigint").as("doc_id"),
        nTokens.as("n_tokens"),
        st.getField("n_subtokens").as("n_subtokens"),
        round(punctRaw, 6).as("punct_ratio"),
        round(stopRaw, 6).as("stop_ratio"),
        when(best === 0, lit("und"))
          .when(en === best, lit("en"))
          .when(fr === best, lit("fr"))
          .when(es === best, lit("es"))
          .otherwise(lit("de")).as("lang_guess"),
        round(least(nTokens.cast("double"), lit(200.0)) / 200.0 * 0.5
          + (lit(1.0) - least(punctRaw * 4.0, lit(1.0))) * 0.3
          + least(stopRaw * 5.0, lit(1.0)) * 0.2, 6).as("quality"))
    },
    // whitespace classes spelled out: Java \s (engine) includes \x0B,
    // RE2's \s (DuckDB) does not
    Some("""WITH b AS (
           |  SELECT doc_id, text, trim(text) AS tt,
           |         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS toks
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, text, toks,
           |    CAST(len(toks) AS BIGINT) AS n_tokens,
           |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS n_subtokens,
           |    CASE WHEN len(text) = 0 THEN 0.0
           |         ELSE CAST(len(regexp_replace(text, '[\p{L}\p{N} \t\n\x0B\f\r]', '', 'g')) AS DOUBLE) / len(text)
           |    END AS punct_raw,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter(toks, x -> list_contains(
           |                ['the','a','an','and','of','to','in','is','it','that'], lower(x)))) AS DOUBLE)
           |              / len(toks)
           |    END AS stop_raw,
           |    len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> list_contains(
           |         ['the','a','an','and','of','to','in','is','it','that'], x))) AS hits_en,
           |    len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> list_contains(
           |         ['le','la','les','de','des','et','un','une','est','que'], x))) AS hits_fr,
           |    len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> list_contains(
           |         ['el','la','los','las','de','y','un','una','es','que'], x))) AS hits_es,
           |    len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> list_contains(
           |         ['der','die','das','und','ein','eine','ist','von','zu','mit'], x))) AS hits_de
           |  FROM b)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, n_subtokens,
           |       round(punct_raw, 6) AS punct_ratio,
           |       round(stop_raw, 6) AS stop_ratio,
           |       CASE WHEN greatest(hits_en, hits_fr, hits_es, hits_de) = 0 THEN 'und'
           |            WHEN hits_en = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'en'
           |            WHEN hits_fr = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'fr'
           |            WHEN hits_es = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'es'
           |            ELSE 'de' END AS lang_guess,
           |       round(0.5 * least(CAST(n_tokens AS DOUBLE), 200.0) / 200.0
           |             + 0.3 * (1.0 - least(punct_raw * 4.0, 1.0))
           |             + 0.2 * least(stop_raw * 5.0, 1.0), 6) AS quality
           |FROM m""".stripMargin))

  /** Corpus accounting per language — doc counts, token budget, and
    * EXACT token-count percentiles (Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition, so this
    * is hash-checkable, unlike approx sketches). The shape every
    * training run reports before and after filtering. */
  private val qCorpusStats = Q("q_corpus_stats",
    (s, dir) => t(s, dir, "documents")
      .withColumn("__nt", Kernels.textStats(col("text")).getField("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        round(avg(col("__nt")), 4).as("avg_tokens"),
        round(expr("percentile(__nt, 0.5)"), 4).as("p50_tokens"),
        round(expr("percentile(__nt, 0.9)"), 4).as("p90_tokens"),
        sum(col("__nt")).cast("bigint").as("total_tokens")),
    Some("""WITH b AS (
           |  SELECT lang,
           |         CASE WHEN len(trim(text)) = 0 THEN 0
           |              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS n_tokens
           |  FROM documents)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       round(avg(n_tokens), 4) AS avg_tokens,
           |       round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
           |       round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
           |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
           |FROM b GROUP BY 1""".stripMargin))

  /** Token-window chunking (50-token windows, 5-token overlap) — the
    * canonical context-window prep step of an LLM training pipeline.
    * One codegen kernel pass + posexplode; oracle reproduces the exact
    * window arithmetic with a DuckDB list comprehension. */
  private val qChunkText = Q("q_chunk_text",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id").cast("bigint").as("doc_id"),
        posexplode(Kernels.chunkText(col("text"), 50, 5)))
      .select(col("doc_id"), col("pos").cast("bigint").as("chunk_no"),
        col("col").as("chunk")),
    Some("""WITH t AS (
           |  SELECT doc_id,
           |         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS toks
           |  FROM documents)
           |SELECT CAST(u.doc_id AS BIGINT) AS doc_id,
           |       CAST(u.x.chunk_no AS BIGINT) AS chunk_no, u.x.chunk AS chunk
           |FROM (SELECT doc_id,
           |             unnest([{'chunk_no': s // 45,
           |                      'chunk': array_to_string(list_slice(toks, s + 1, least(s + 50, len(toks))), ' ')}
           |                     for s in range(0, len(toks), 45)]) AS x
           |      FROM t) u""".stripMargin))

  /** Document fingerprinting, oracle-gated: the hex-MD5 twin shares the
    * exact normalization pipeline with the xxhash64 dedup key, so a
    * hash-green row here pins the normalization (trim → collapse
    * whitespace → lowercase → UTF-8) that every dedup query keys on.
    * TextFunctionsSpec separately proves the two keys induce identical
    * duplicate groups. */
  private val qFingerprint = Q("q_fingerprint",
    (s, dir) => t(s, dir, "documents").select(
      col("doc_id").cast("bigint").as("doc_id"),
      TF.contentFingerprintMd5(col("text")).as("fp_md5")),
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       md5(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp_md5
           |FROM documents""".stripMargin))

  /** Content-defined chunking under the oracle: every document split at
    * gear-hash anchors ([[graft.functions.CdcKernels]] — boundaries are
    * a pure function of the trailing 5 code points, so chunk
    * fingerprints survive insertions that shift absolute offsets),
    * min/max-clamped, each chunk md5-fingerprinted. DuckDB replays the
    * whole construction: the windowed gear test as unrolled mod-32
    * arithmetic over the spliced gear-low table, the greedy walk as a
    * recursive CTE, the fingerprints over the same code-point slices —
    * so anchors, clamps, AND slicing are hash-checked, not trusted.
    * The plan is ONE narrow pass (no exchange; pinned in PlanSpec):
    * chunking 100 TB costs a scan, nothing else. */
  private val qCdcChunks = Q("q_cdc_chunks",
    (s, dir) => Dedup.cdcChunks(t(s, dir, "documents"), "text", "doc_id",
      maskBits = 5, minLen = 16, maxLen = 128),
    Some(OracleSqlGen.cdcChunks(5, 16, 128)))

  /** Chunk-level partial-overlap triage over [[qCdcChunks]]: per
    * document, how many of its CDC chunks (and how much of its length)
    * also occur verbatim elsewhere in the corpus — the shift-resilient
    * "shared content" report that fixed windows structurally miss.
    * Three shuffles total, all carrying (fingerprint, id, len) triples:
    * the fingerprint census (map-side partial agg), the census join
    * back (fp-to-fp, reuses the census exchange on one side — NOT a
    * broadcast; the census is corpus-sized at scale), and the per-doc
    * rollup. Oracle: census + rollup SQL over the replayed chunk CTE. */
  private val qCdcDedup = Q("q_cdc_dedup",
    (s, dir) => Dedup.cdcSharedStats(
      Dedup.cdcChunks(t(s, dir, "documents"), "text", "doc_id",
        maskBits = 5, minLen = 16, maxLen = 128), "doc_id"),
    Some(OracleSqlGen.cdcShared(5, 16, 128)))

  /** Ingestion-time partial-overlap screen (the CDC member of the
    * incremental family, same corpus split as [[qIncrementalDedup]]):
    * docs with `doc_id % 4 = 0` are the indexed history
    * ([[Dedup.cdcFpIndex]] — distinct chunk fingerprints, text never
    * re-read), the rest arrive as the batch and report how many of
    * their chunks the corpus already contains. The shift-resilient
    * upgrade over whole-document incremental dedup: a recrawl with one
    * inserted paragraph scores ~100% known here and 0% there. Oracle:
    * chunk everything once (chunking is per-document), split, probe,
    * roll up. */
  private val qIncrementalCdc = Q("q_incremental_cdc",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val hist = Dedup.cdcFpIndex(docs.filter(col("doc_id") % 4 === 0),
        "text", "doc_id", maskBits = 5, minLen = 16, maxLen = 128)
      Dedup.incrementalCdc(docs.filter(col("doc_id") % 4 =!= 0), hist,
        "text", "doc_id", maskBits = 5, minLen = 16, maxLen = 128)
    },
    Some(OracleSqlGen.cdcIncremental(5, 16, 128)))

  /** ORC source/sink round-trip: the orders table written as ORC
    * PARTITIONED BY order status (Spark's second native columnar
    * format — an engine claiming the reference's source breadth must
    * read and write it), read back with a partition-pruning status
    * filter plus a price predicate that must reach the ORC reader as a
    * pushed filter (both pinned in PlanSpec), then aggregated. The
    * oracle computes the same aggregate from the original parquet, so
    * a lossy round-trip (type drift, partition-column mangling,
    * dropped rows) hash-fails. */
  private val qOrcRoundtrip = Q("q_orc_roundtrip",
    (s, dir) => {
      val out = scratch("q_orc_roundtrip")
      t(s, dir, "orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").orc(out)
      s.read.orc(out)
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 50000.0)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          round(sum("o_totalprice"), 4).as("total"))
    },
    Some("""SELECT o_orderpriority AS priority,
           |       CAST(count(*) AS BIGINT) AS n,
           |       round(sum(o_totalprice), 4) AS total
           |FROM orders
           |WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
           |GROUP BY 1""".stripMargin))

  /** Unicode NFC normalization under the oracle ([[Kernels.nfcNormalize]] —
    * Spark has no built-in; the JDK normalizer vs DuckDB's utf8proc
    * `nfc_normalize`, two independent UAX #15 implementations checked
    * against each other). Corpus text is ASCII today, so each doc gets
    * a constructed denormalized suffix — combining acute (e+U+0301),
    * the U+212B angstrom singleton, a decomposed Hangul jamo pair, and
    * an already-composed é control — exercising composition, singleton
    * replacement, and the not-already-NFC detection that `changed`
    * reports. Lengths are code-point counts (both engines agree);
    * `nfc_fp` md5-pins the normalized BYTES end to end. */
  private val qNormalizeText = Q("q_normalize_text",
    (s, dir) => {
      // decomposed ON PURPOSE, as escapes so no editor can silently
      // recompose them: e+U+0301, the U+212B singleton, a Hangul jamo
      // pair, then an already-NFC \u00e9 control normalization must
      // keep byte-identical
      val suffix = " cafe\u0301 \u212b \u1100\u1161 caf\u00e9"
      t(s, dir, "documents").select(
          col("doc_id").cast("bigint").as("doc_id"),
          concat(col("text"), lit(suffix)).as("__raw"))
        .withColumn("__nfc", Kernels.nfcNormalize(col("__raw")))
        .select(
          col("doc_id"),
          length(col("__raw")).cast("bigint").as("raw_len"),
          length(col("__nfc")).cast("bigint").as("nfc_len"),
          (col("__nfc") =!= col("__raw")).as("changed"),
          md5(encode(col("__nfc"), "UTF-8")).as("nfc_fp"))
    },
    Some("""WITH r AS (
           |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |         text || ' cafe' || chr(769) || ' ' || chr(8491) || ' '
           |              || chr(4352) || chr(4449) || ' caf' || chr(233) AS raw
           |  FROM documents)
           |SELECT doc_id,
           |       CAST(length(raw) AS BIGINT) AS raw_len,
           |       CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_len,
           |       nfc_normalize(raw) <> raw AS changed,
           |       md5(nfc_normalize(raw)) AS nfc_fp
           |FROM r""".stripMargin))

  // ---------------------------------------------------------------------
  // Multimodal plumbing (binary column -> batched REAL raster decode)
  // ---------------------------------------------------------------------

  /** Real pixel decode under the oracle gate: BMP (even doc_id) and PPM
    * (odd doc_id) blobs are CONSTRUCTED in-plan — a two-color raster
    * whose first pixel is color A and remaining w·h−1 pixels color B,
    * dimensions and colors derived from doc_id — then batch-decoded by
    * [[Multimodal.raster]] (real pixel iteration, no codec), and DuckDB
    * recomputes dimensions, byte counts, and mean-RGB arithmetically.
    * Every 7th blob is truncated (mid-header for BMP, mid-pixel-data
    * for PPM) and must come back with NULL features. Dimensions are
    * powers of two, so every channel mean is a dyadic rational — exact
    * in float32 AND float64, which is what makes the hash compare
    * byte-stable. Compressed-codec video pixels remain a deterministic
    * stub decoder, exercised in MultimodalSpec.
    */
  /** In-plan ISO-BMFF (MP4) blob: ftyp + moov(mvhd + video trak + audio
    * trak) with constant box layout and doc-id-derived field values —
    * the video track carries a VARIABLE-size stsz table (8 samples),
    * the audio track the FIXED-sample-size layout, so both parser
    * branches are exercised. Every 9th doc gets a non-BMFF garbage blob
    * (NULL row contract). Sizes in bytes: ftyp 16, moov 382 = mvhd 108
    * + trak_v 149 + trak_a 117. */
  private def constructedMp4Blob(id: Column): Column = {
    def be32(n: Long): String = f"$n%08X"
    val z = "00000000"
    val vdur = (pmod(id, lit(10)) + 1) * 30000
    val adur = (pmod(id, lit(5)) + 1) * 48000
    val mvDur = (pmod(id, lit(10)) + 1) * 600
    val asz = pmod(id, lit(6)) + 2
    val acnt = pmod(id, lit(100)) + 1000
    val sizes = (1 to 8).map(i =>
      be32h(pmod(id * 31 + lit(i * 17), lit(900)) + 100))
    val mvhd = concat(
      lit(be32(108) + "6D766864" + z + z + z + be32(600)), be32h(mvDur),
      lit(z * 20))
    val mdhdV = concat(
      lit(be32(32) + "6D646864" + z + z + z + be32(90000)), be32h(vdur), lit(z))
    val hdlrV = lit(be32(33) + "68646C72" + z + z + "76696465" + z * 3 + "00")
    val stszV = concat(
      lit(be32(52) + "7374737A" + z + z + be32(8)), concat(sizes: _*))
    val minfV = concat(lit(be32(68) + "6D696E66" + be32(60) + "7374626C"), stszV)
    val mdiaV = concat(lit(be32(141) + "6D646961"), mdhdV, hdlrV, minfV)
    val trakV = concat(lit(be32(149) + "7472616B"), mdiaV)
    val mdhdA = concat(
      lit(be32(32) + "6D646864" + z + z + z + be32(48000)), be32h(adur), lit(z))
    val hdlrA = lit(be32(33) + "68646C72" + z + z + "736F756E" + z * 3 + "00")
    val stszA = concat(lit(be32(20) + "7374737A" + z), be32h(asz), be32h(acnt))
    val minfA = concat(lit(be32(36) + "6D696E66" + be32(28) + "7374626C"), stszA)
    val mdiaA = concat(lit(be32(109) + "6D646961"), mdhdA, hdlrA, minfA)
    val trakA = concat(lit(be32(117) + "7472616B"), mdiaA)
    val moov = concat(lit(be32(382) + "6D6F6F76"), mvhd, trakV, trakA)
    val good = concat(lit(be32(16) + "66747970" + "69736F6D" + z), moov)
    unhex(when(pmod(id, lit(9)) === 0, lit("DEADBEEF00112233")).otherwise(good))
  }

  /** MP4 per-track container stats WITHOUT a codec (VERDICT r8 stretch):
    * per-doc two-track MP4s assembled in-plan, walked by the codegen
    * `video_track_stats` kernel (mdhd + hdlr +
    * stsz), per-track seconds and average bitrate derived — the oracle
    * recomputes everything from the construction arithmetic, so the
    * build → parse → derive pipeline is hash-checked end to end.
    * Corrupt blobs keep their NULL row (posexplode_outer). */
  private val qVideoStats = Q("q_video_stats",
    (s, dir) => {
      val t0 = t(s, dir, "documents")
        .select(col("doc_id"),
          Kernels.videoTrackStats(
            constructedMp4Blob(col("doc_id"))).as("tr"))
        .select(col("doc_id"), posexplode_outer(col("tr")).as(Seq("ti", "t")))
      val tb = col("t").getField("total_bytes")
      val dur = col("t").getField("duration")
      val ts = col("t").getField("timescale")
      t0.select(col("doc_id").cast("bigint").as("doc_id"),
        col("ti").cast("bigint").as("track_idx"),
        col("t").getField("handler").as("handler"),
        ts.cast("bigint").as("timescale"),
        dur.cast("bigint").as("duration"),
        col("t").getField("n_samples").cast("bigint").as("n_samples"),
        tb.cast("bigint").as("total_bytes"),
        round((tb * lit(8.0)) / (dur.cast("double") / ts), 6).as("avg_bps"),
        round(dur.cast("double") / ts, 6).as("seconds"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id, doc_id % 9 = 0 AS corrupt,
           |         (doc_id % 10 + 1) * 30000 AS vdur,
           |         (doc_id % 5 + 1) * 48000 AS adur,
           |         2 + doc_id % 6 AS asz, 1000 + doc_id % 100 AS acnt
           |  FROM documents),
           |vb AS (
           |  SELECT doc_id, sum(100 + (doc_id * 31 + i * 17) % 900) AS vbytes
           |  FROM p, (SELECT unnest(range(1, 9)) AS i) GROUP BY doc_id),
           |tracks AS (
           |  SELECT p.doc_id, 0 AS track_idx, 'vide' AS handler,
           |         90000 AS timescale, vdur AS duration, 8 AS n_samples,
           |         vbytes AS total_bytes
           |  FROM p JOIN vb USING (doc_id) WHERE NOT corrupt
           |  UNION ALL
           |  SELECT doc_id, 1, 'soun', 48000, adur, acnt, asz * acnt
           |  FROM p WHERE NOT corrupt
           |  UNION ALL
           |  SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL
           |  FROM p WHERE corrupt)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CAST(track_idx AS BIGINT) AS track_idx, handler,
           |       CAST(timescale AS BIGINT) AS timescale,
           |       CAST(duration AS BIGINT) AS duration,
           |       CAST(n_samples AS BIGINT) AS n_samples,
           |       CAST(total_bytes AS BIGINT) AS total_bytes,
           |       round(CAST(total_bytes AS DOUBLE) * 8 /
           |             (CAST(duration AS DOUBLE) / timescale), 6) AS avg_bps,
           |       round(CAST(duration AS DOUBLE) / timescale, 6) AS seconds
           |FROM tracks""".stripMargin))

  /** Constructed two-color raster blobs over `docs`' `doc_id` (BMP for
    * even ids, PPM for odd; every 7th truncated to 20 bytes), as
    * `doc_id, blob` — the fixture generator shared by
    * q_multimodal_features and q_binary_ingest, whose oracles recompute
    * the expected features from this arithmetic. */
  private def constructedRasterBlob(docs: DataFrame): DataFrame = {
    val (w, hh, wh) = (col("w"), col("hh"), col("wh"))
    // widths 4/8/16 make 3·w a multiple of 4: no BMP row padding, so
    // pixel data is exactly 3·w·h bytes (the decoder handles padded
    // strides; MultimodalSpec covers that case)
    val bmpHex = concat(
      lit("424D"), le32h(lit(54) + wh * 3), lit("00000000"), le32h(lit(54)),
      le32h(lit(40)), le32h(w), le32h(hh), lit("0100"), lit("1800"),
      le32h(lit(0)), le32h(wh * 3), le32h(lit(0)), le32h(lit(0)),
      le32h(lit(0)), le32h(lit(0)),
      col("ab_h"), col("ag_h"), col("ar_h"),
      rep(concat(col("bb_h"), col("bg_h"), col("br_h")), wh - 1))
    val ppmHex = concat(
      hex(encode(concat(lit("P6\n"), w.cast("string"), lit(" "),
        hh.cast("string"), lit("\n255\n")), "UTF-8")),
      col("ar_h"), col("ag_h"), col("ab_h"),
      rep(concat(col("br_h"), col("bg_h"), col("bb_h")), wh - 1))
    // 40 hex chars = 20 bytes: inside the BMP info header, inside the
    // PPM pixel data — both must decode to nothing
    truncatedBlob(rasterParams(docs).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(2)) === 0, bmpHex).otherwise(ppmHex).as("hex")), 40)
  }

  /** Projection of a [[Multimodal.featurize]] raster result to the
    * oracle-compared shape — shared by q_multimodal_features and
    * q_binary_ingest. */
  private def rasterFeatures(featurized: DataFrame): DataFrame =
    featurized.select(col("media_id").cast("bigint").as("media_id"),
      col("n_bytes").cast("bigint").as("n_bytes"),
      get(col("feature"), lit(0)).cast("bigint").as("width"),
      get(col("feature"), lit(1)).cast("bigint").as("height"),
      round(get(col("feature"), lit(2)).cast("double"), 6).as("mean_r"),
      round(get(col("feature"), lit(3)).cast("double"), 6).as("mean_g"),
      round(get(col("feature"), lit(4)).cast("double"), 6).as("mean_b"))

  private val qMultimodal = Q("q_multimodal_features",
    (s, dir) => {
      val media = constructedRasterBlob(t(s, dir, "documents"))
      rasterFeatures(Multimodal.featurize(media, "doc_id", "blob", dim = 5,
        decoder = Multimodal.raster))
    },
    Some("""WITH p AS (
           |  SELECT doc_id,
           |         CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 16 END AS w,
           |         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS h,
           |         doc_id % 256 AS ar, (doc_id * 7) % 256 AS ag, (doc_id * 13) % 256 AS ab,
           |         (doc_id * 3) % 256 AS br, (doc_id * 5) % 256 AS bg, (doc_id * 11) % 256 AS bb
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, w, h, w * h AS wh,
           |         doc_id % 7 = 0 AS trunc, doc_id % 2 = 0 AS is_bmp,
           |         ar, ag, ab, br, bg, bb
           |  FROM p)
           |SELECT CAST(doc_id AS BIGINT) AS media_id,
           |       CAST(CASE WHEN trunc THEN 20
           |                 WHEN is_bmp THEN 54 + 3 * wh
           |                 ELSE 10 + len(CAST(w AS VARCHAR)) + 3 * wh
           |            END AS BIGINT) AS n_bytes,
           |       CASE WHEN trunc THEN NULL ELSE CAST(w AS BIGINT) END AS width,
           |       CASE WHEN trunc THEN NULL ELSE CAST(h AS BIGINT) END AS height,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round((ar + (wh - 1) * br) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_r,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round((ag + (wh - 1) * bg) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_g,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round((ab + (wh - 1) * bb) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_b
           |FROM m""".stripMargin))

  /** In-plan PNG blob for [[qPngFeatures]]: real PNG byte stream —
    * magic, IHDR, one IDAT whose zlib stream is a single STORED
    * (uncompressed) DEFLATE block, IEND. Stored blocks keep the
    * construction expressible as column arithmetic (no deflate
    * function exists in SQL) while the decoder still runs its full
    * zlib-wrapper + Inflater + defilter path; the COMPRESSED branches
    * (dynamic Huffman, filters 1-4) are pinned against the JDK's own
    * ImageIO encoder in [[graft.PngSpec]]. id%5 picks the family —
    * 0/1 RGB (type 2), 2 grayscale (type 0), 3 SIXTEEN-BIT grayscale
    * (type 0 depth 16, each sample the 8-bit value bit-replicated
    * hi/lo = 257·a, so the /257 rescale reproduces the 8-bit means
    * exactly and the round-11 16-bit branch is hash-checked by
    * DuckDB), 4 palette (type 3, a 2-entry PLTE whose triples carry
    * the A/B colors, so the indexed pixels decode to the SAME channel
    * means as the RGB family and the round-10 palette branch is
    * hash-checked, not only spec-pinned; the family further splits on
    * the next base-5 digit, (id/5)%2 — odd digits emit the SAME image
    * at ONE-BIT depth, MSB-first packed rows padded to the byte, so
    * the round-11 sub-byte branch is under the oracle too) — %5 is
    * coprime to the %3 width and %4 height masks, so every
    * (family, w, h) combination occurs. Every 7th doc is truncated to
    * 20 bytes (NULL row). Chunk CRCs and the Adler32 are zeros (the
    * decoder documents that storage-layer integrity owns bit-rot). */
  private def constructedPngBlob(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val (w, hh) = (col("w"), col("hh"))
    val (isRgb, isG16, isPal, isPal1) =
      (col("is_rgb"), col("is_g16"), col("is_pal"), col("is_pal1"))
    val (aR, aG, aB) = (col("ar_h"), col("ag_h"), col("ab_h"))
    val (bR, bG, bB) = (col("br_h"), col("bg_h"), col("bb_h"))
    val rawLen = col("raw_len")
    val sel = pmod(id, lit(5))
    // the palette family splits on the NEXT base-5 digit so the 1-bit
    // variant still co-occurs with every (w, h) combination (a %6
    // selector would lock family 5 to w=16 — 6 and 3 share a factor)
    val palBit = pmod(((id - pmod(id, lit(5))) / 5).cast("long"), lit(2)) === 1
    val families = rasterParams(docs).select(col("*"), (sel < 2).as("is_rgb"),
      (sel === 3).as("is_g16"), (sel === 4).as("is_pal"),
      (sel === 4 && palBit).as("is_pal1"))
    // filtered scanlines, every row filter 0: first row leads with
    // pixel A, every other pixel is B (palette: index 0 then 1s)
    val rgbRow0 = concat(lit("00"), aR, aG, aB, rep(concat(bR, bG, bB), w - 1))
    val rgbRest = rep(concat(lit("00"), rep(concat(bR, bG, bB), w)), hh - 1)
    val grayRow0 = concat(lit("00"), aR, rep(bR, w - 1))
    val grayRest = rep(concat(lit("00"), rep(bR, w)), hh - 1)
    // 16-bit gray: every sample is the 8-bit value twice (v = 257·a)
    val g16Row0 = concat(lit("00"), aR, aR, rep(concat(bR, bR), w - 1))
    val g16Rest = rep(concat(lit("00"), rep(concat(bR, bR), w)), hh - 1)
    val palRow0 = concat(lit("0000"), rep(lit("01"), w - 1))
    val palRest = rep(concat(lit("00"), rep(lit("01"), w)), hh - 1)
    // 1-bit palette: index 0 (A) then 1s (B), packed MSB-first, rows
    // padded to the byte — w∈{4,8,16} makes each row 1 or 2 bytes
    val pal1Row0 = when(w === 4, lit("70")).when(w === 8, lit("7F"))
      .otherwise(lit("7FFF"))
    val pal1RowB = when(w === 4, lit("F0")).when(w === 8, lit("FF"))
      .otherwise(lit("FFFF"))
    val rawHex = when(isRgb, concat(rgbRow0, rgbRest))
      .when(isG16, concat(g16Row0, g16Rest))
      .when(isPal1, concat(lit("00"), pal1Row0,
        rep(concat(lit("00"), pal1RowB), hh - 1)))
      .when(isPal, concat(palRow0, palRest))
      .otherwise(concat(grayRow0, grayRest))
    // bytes/pixel: RGB8 3, gray16 2, gray8 and palette8 1; the 1-bit
    // palette rows are ceil(w/8) bytes
    val rawLenOf = when(isRgb, (lit(1) + w * 3) * hh)
      .when(isG16, (lit(1) + w * 2) * hh)
      .when(isPal1, (lit(1) + when(w === 16, lit(2)).otherwise(lit(1))) * hh)
      .otherwise((lit(1) + w) * hh).cast("int")
    // zlib wrapper (78 01) + stored block (01, LEN, ~LEN) + zero Adler
    val zlibHex = concat(lit("780101"), le16h(rawLen),
      le16h(lit(65535) - rawLen), col("raw"), lit("00000000"))
    val ihdrHex = concat(lit("0000000D49484452"), be32h(w), be32h(hh),
      when(isG16, lit("10")).when(isPal1, lit("01")).otherwise(lit("08")),
      when(isRgb, lit("02")).when(isPal, lit("03"))
        .otherwise(lit("00")), lit("000000"),
      lit("00000000"))
    // 2-entry PLTE (18 bytes on the wire): index 0 = color A, 1 = B
    val plteHex = when(isPal, concat(lit("00000006504C5445"),
      aR, aG, aB, bR, bG, bB, lit("00000000"))).otherwise(lit(""))
    val idatHex = concat(be32h(rawLen + 11), lit("49444154"), zlibHex,
      lit("00000000"))
    val fullHex = concat(lit("89504E470D0A1A0A"), ihdrHex, plteHex, idatHex,
      lit("0000000049454E4400000000"))
    truncatedBlob(families
      .select(col("*"), rawHex.as("raw"), rawLenOf.as("raw_len"))
      .select(id, fullHex.as("hex")), 40)
  }

  /** PNG pixel decode under the oracle (round 9 — retires the last
    * headers-only still format): in-plan PNGs flow through the same
    * [[Multimodal.featurize]] narrow-pass raster path as BMP/PPM/JPEG,
    * now dispatching [[graft.functions.PngKernels]] (JDK Inflater +
    * the five scanline filters, no imaging library). The oracle
    * recomputes n_bytes and the channel means from the construction
    * arithmetic; grayscale rows must report R=G=B, and palette rows
    * (id%5=4) must report the PLTE triples' means — identical formulas
    * to RGB, +18 bytes of PLTE on the wire. */
  private val qPngFeatures = Q("q_png_features",
    (s, dir) => {
      val media = constructedPngBlob(t(s, dir, "documents"))
      rasterFeatures(Multimodal.featurize(media, "doc_id", "blob", dim = 5,
        decoder = Multimodal.raster))
    },
    Some("""WITH p AS (
           |  SELECT doc_id,
           |         CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 16 END AS w,
           |         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS h,
           |         doc_id % 5 < 2 AS is_rgb, doc_id % 5 = 3 AS is_g16,
           |         doc_id % 5 = 4 AS is_pal,
           |         doc_id % 5 = 4 AND (doc_id // 5) % 2 = 1 AS is_pal1,
           |         doc_id % 7 = 0 AS trunc,
           |         doc_id % 256 AS ar, (doc_id * 7) % 256 AS ag, (doc_id * 13) % 256 AS ab,
           |         (doc_id * 3) % 256 AS br, (doc_id * 5) % 256 AS bg, (doc_id * 11) % 256 AS bb
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, w, h, w * h AS wh, is_rgb, is_pal, trunc,
           |         ar, ag, ab, br, bg, bb,
           |         CASE WHEN is_rgb THEN (1 + 3 * w) * h
           |              WHEN is_g16 THEN (1 + 2 * w) * h
           |              WHEN is_pal1 THEN (1 + CASE WHEN w = 16 THEN 2 ELSE 1 END) * h
           |              ELSE (1 + w) * h END AS rawlen
           |  FROM p)
           |SELECT CAST(doc_id AS BIGINT) AS media_id,
           |       CAST(CASE WHEN trunc THEN 20
           |                 WHEN is_pal THEN 86 + rawlen
           |                 ELSE 68 + rawlen END AS BIGINT) AS n_bytes,
           |       CASE WHEN trunc THEN NULL ELSE CAST(w AS BIGINT) END AS width,
           |       CASE WHEN trunc THEN NULL ELSE CAST(h AS BIGINT) END AS height,
           |       CASE WHEN trunc THEN NULL
           |            WHEN is_rgb OR is_pal THEN round((ar + (wh - 1) * br) / CAST(wh AS DOUBLE), 6)
           |            ELSE round((ar + (wh - 1) * br) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_r,
           |       CASE WHEN trunc THEN NULL
           |            WHEN is_rgb OR is_pal THEN round((ag + (wh - 1) * bg) / CAST(wh AS DOUBLE), 6)
           |            ELSE round((ar + (wh - 1) * br) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_g,
           |       CASE WHEN trunc THEN NULL
           |            WHEN is_rgb OR is_pal THEN round((ab + (wh - 1) * bb) / CAST(wh AS DOUBLE), 6)
           |            ELSE round((ar + (wh - 1) * br) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_b
           |FROM m""".stripMargin))

  /** In-plan GIF blob for [[qGifFeatures]]: real GIF89a byte stream via
    * the classic "uncompressed GIF" construction — min LZW code size 7
    * makes every code 8 bits as long as the dictionary stays under 256,
    * which a CLEAR after 100 literals guarantees, so the encoded bytes
    * ARE the palette indices and the stream is expressible as column
    * arithmetic. 128-entry global palette: index 0 = color A (first
    * pixel), index 1 = color B (the rest), remainder black. REAL
    * variable-width LZW (dictionary growth, deep chains, KwKwK) is
    * pinned against the JDK's ImageIO encoder in [[graft.GifSpec]].
    * Every 7th doc truncated to 20 bytes (NULL row). */
  private def constructedGifBlob(docs: DataFrame): DataFrame = {
    val (w, hh, wh) = (col("w"), col("hh"), col("wh"))
    val pal = concat(col("ar_h"), col("ag_h"), col("ab_h"),
      col("br_h"), col("bg_h"), col("bb_h"), rep(lit("000000"), lit(126)))
    // codes: CLEAR, literal 0, then B-literals with a re-CLEAR after the
    // first 100 codes keeping the dictionary under 256 (8-bit codes)
    val tail = when(wh > 100,
      concat(rep(lit("01"), lit(99)), lit("80"), rep(lit("01"), wh - 100)))
      .otherwise(rep(lit("01"), wh - 1))
    val nCodes = wh + 2 + when(wh > 100, 1).otherwise(0)
    val lzw = concat(lit("07"), h2(nCodes), lit("80"), lit("00"), tail,
      lit("81"), lit("00"))
    val fullHex = concat(
      lit("474946383961"), le16h(w), le16h(hh), lit("860000"), pal,
      lit("2C"), lit("00000000"), le16h(w), le16h(hh), lit("00"),
      lzw, lit("3B"))
    truncatedBlob(rasterParams(docs).select(col("doc_id"), fullHex.as("hex")), 40)
  }

  /** GIF pixel decode under the oracle (round 9 — with PNG and JPEG
    * this completes the still-image matrix: every format imageMeta can
    * triage now decodes to pixels): in-plan literal-coded GIFs flow
    * through the same [[Multimodal.featurize]] narrow-pass raster path,
    * dispatching [[graft.functions.GifKernels]] (direct variable-width
    * LZW, first frame). n_bytes = 413 + wh (+1 when the re-CLEAR is
    * present) pins the whole construction; means mirror the raster
    * family arithmetic. */
  private val qGifFeatures = Q("q_gif_features",
    (s, dir) => {
      val media = constructedGifBlob(t(s, dir, "documents"))
      rasterFeatures(Multimodal.featurize(media, "doc_id", "blob", dim = 5,
        decoder = Multimodal.raster))
    },
    Some("""WITH p AS (
           |  SELECT doc_id,
           |         CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 16 END AS w,
           |         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS h,
           |         doc_id % 7 = 0 AS trunc,
           |         doc_id % 256 AS ar, (doc_id * 7) % 256 AS ag, (doc_id * 13) % 256 AS ab,
           |         (doc_id * 3) % 256 AS br, (doc_id * 5) % 256 AS bg, (doc_id * 11) % 256 AS bb
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, w, h, w * h AS wh, trunc, ar, ag, ab, br, bg, bb
           |  FROM p)
           |SELECT CAST(doc_id AS BIGINT) AS media_id,
           |       CAST(CASE WHEN trunc THEN 20
           |                 ELSE 413 + wh + CASE WHEN wh > 100 THEN 1 ELSE 0 END
           |            END AS BIGINT) AS n_bytes,
           |       CASE WHEN trunc THEN NULL ELSE CAST(w AS BIGINT) END AS width,
           |       CASE WHEN trunc THEN NULL ELSE CAST(h AS BIGINT) END AS height,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round((ar + (wh - 1) * br) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_r,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round((ag + (wh - 1) * bg) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_g,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round((ab + (wh - 1) * bb) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_b
           |FROM m""".stripMargin))

  /** In-plan TWO-FRAME animated GIF for [[qGifFrames]], the same
    * uncompressed-LZW construction as [[constructedGifBlob]] with the
    * 89a animation machinery on the wire: each frame is preceded by a
    * real Graphic Control Extension (frame 1: disposal 1, delay id%100,
    * no transparency; frame 2: disposal 2, delay 3·id%100, transparent
    * index 0), frame 1 is the full screen with pixel pattern A-then-Bs,
    * frame 2 is a (w−1)×h SUB-RECTANGLE at x=1 with the SWAPPED pattern
    * B-then-As — so geometry, GCE fields, transparent-pixel counts and
    * both frames' means are all closed-form for DuckDB. Every 9th doc
    * is garbage (the corrupt channel → one NULL row). */
  private def constructedAnimatedGifBlob(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val (w, hh, wh) = (col("w"), col("hh"), col("wh"))
    val (w2, wh2) = (col("w2"), col("wh2"))
    val pal = concat(col("ar_h"), col("ag_h"), col("ab_h"),
      col("br_h"), col("bg_h"), col("bb_h"), rep(lit("000000"), lit(126)))
    // one frame's data: min code 7 (8-bit codes), CLEAR, the first
    // pixel's literal, n−1 rest-literals with a re-CLEAR after the
    // first 100 codes, EOI, block terminator
    def lzwHex(first: Column, rest: Column, n: Column): Column = {
      val tail = when(n > 100,
        concat(rep(rest, lit(99)), lit("80"), rep(rest, n - 100)))
        .otherwise(rep(rest, n - 1))
      val nCodes = n + 2 + when(n > 100, 1).otherwise(0)
      concat(lit("07"), h2(nCodes), lit("80"), first, tail,
        lit("81"), lit("00"))
    }
    val gce1 = concat(lit("21F904"), lit("04"), le16h(pmod(id, lit(100)).cast("int")),
      lit("00"), lit("00"))
    val gce2 = concat(lit("21F904"), lit("09"), le16h(pmod(id * 3, lit(100)).cast("int")),
      lit("00"), lit("00"))
    val f1 = concat(lit("2C"), lit("00000000"), le16h(w), le16h(hh),
      lit("00"), lzwHex(lit("00"), lit("01"), wh))
    val f2 = concat(lit("2C"), le16h(lit(1)), le16h(lit(0)), le16h(w2),
      le16h(hh), lit("00"), lzwHex(lit("01"), lit("00"), wh2))
    val fullHex = concat(lit("474946383961"), le16h(w), le16h(hh),
      lit("860000"), pal, gce1, f1, gce2, f2, lit("3B"))
    rasterParams(docs)
      .select(col("*"), (w - 1).cast("int").as("w2"),
        ((w - 1).cast("int") * hh).cast("int").as("wh2"))
      .select(id, unhex(when(pmod(id, lit(9)) === 0, lit("DEADBEEF00112233"))
        .otherwise(fullHex)).as("blob"))
  }

  /** Animated-GIF frame walk under the oracle (round 11 — retires the
    * "frame 1 only" GIF scope edge the same way [[qVideoFrames]] retired
    * the video-pixel stub for MJPEG): [[Kernels.gifFrames]] decodes
    * EVERY frame of the in-plan two-frame animations — per-frame
    * geometry (frame 2 is a sub-rectangle at x=1), Graphic Control
    * Extension delay/disposal, transparent-pixel counts, and
    * palette-resolved means — and DuckDB predicts every value from the
    * construction arithmetic. Corrupt blobs keep one visible NULL row
    * (posexplode_outer). The decode is a codegen expression over the
    * blob in place: frames never shuffle. */
  private val qGifFrames = Q("q_gif_frames",
    (s, dir) => {
      constructedAnimatedGifBlob(t(s, dir, "documents"))
        .select(col("doc_id"),
          Kernels.gifFrames(col("blob")).as("frames"))
        .select(col("doc_id").cast("bigint").as("doc_id"),
          posexplode_outer(col("frames")).as(Seq("fi", "f")))
        .select(col("doc_id"),
          coalesce(col("fi"), lit(0)).cast("bigint").as("frame_idx"),
          col("f.x").as("x"), col("f.y").as("y"),
          col("f.width").as("width"), col("f.height").as("height"),
          col("f.delay_cs").as("delay_cs"),
          col("f.disposal").as("disposal"),
          col("f.transparent_px").as("transparent_px"),
          round(col("f.mean_r"), 6).as("mean_r"),
          round(col("f.mean_g"), 6).as("mean_g"),
          round(col("f.mean_b"), 6).as("mean_b"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id,
           |         CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 16 END AS w,
           |         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS h,
           |         doc_id % 9 = 0 AS corrupt,
           |         doc_id % 256 AS ar, (doc_id * 7) % 256 AS ag, (doc_id * 13) % 256 AS ab,
           |         (doc_id * 3) % 256 AS br, (doc_id * 5) % 256 AS bg, (doc_id * 11) % 256 AS bb
           |  FROM documents),
           |good AS (
           |  SELECT doc_id, 0 AS frame_idx, 0 AS x, 0 AS y, w AS fw, h AS fh,
           |         doc_id % 100 AS delay_cs, 1 AS disposal, 0 AS tpx,
           |         w * h AS n, ar AS c1r, ag AS c1g, ab AS c1b,
           |         br AS c2r, bg AS c2g, bb AS c2b
           |  FROM p WHERE NOT corrupt
           |  UNION ALL
           |  SELECT doc_id, 1, 1, 0, w - 1, h,
           |         (doc_id * 3) % 100, 2, (w - 1) * h - 1,
           |         (w - 1) * h, br, bg, bb, ar, ag, ab
           |  FROM p WHERE NOT corrupt)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CAST(frame_idx AS BIGINT) AS frame_idx,
           |       CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           |       CAST(fw AS BIGINT) AS width, CAST(fh AS BIGINT) AS height,
           |       CAST(delay_cs AS BIGINT) AS delay_cs,
           |       CAST(disposal AS BIGINT) AS disposal,
           |       CAST(tpx AS BIGINT) AS transparent_px,
           |       round((c1r + (n - 1) * c2r) / CAST(n AS DOUBLE), 6) AS mean_r,
           |       round((c1g + (n - 1) * c2g) / CAST(n AS DOUBLE), 6) AS mean_g,
           |       round((c1b + (n - 1) * c2b) / CAST(n AS DOUBLE), 6) AS mean_b
           |FROM good
           |UNION ALL
           |SELECT CAST(doc_id AS BIGINT), 0, NULL, NULL, NULL, NULL,
           |       NULL, NULL, NULL, NULL, NULL, NULL
           |FROM p WHERE corrupt""".stripMargin))

  /** In-plan little-endian TIFF for [[qTiffFeatures]]: header + one
    * uncompressed strip + a 10-entry IFD, all offsets closed-form.
    * Even ids are 8-bit grayscale (BitsPerSample inline), odd ids are
    * chunky RGB (BitsPerSample via a 3-SHORT tail after the IFD) —
    * first pixel color A, the rest color B, the raster-family pattern.
    * PackBits/LZW/predictor/WhiteIsZero/palette/big-endian are pinned
    * against hand vectors and the JDK's own TIFF plugin in
    * [[graft.TiffSpec]]. Every 7th doc truncated to 20 bytes (NULL). */
  private def constructedTiffBlob(docs: DataFrame): DataFrame = {
    val (w, hh, wh) = (col("w"), col("hh"), col("wh"))
    val (isRgb, spp, dataLen, ifdAt) =
      (col("is_rgb"), col("spp"), col("data_len"), col("ifd_at"))
    def entry(tag: Int, typ: Int, cnt: Int, v: Column): Column =
      concat(lit(f"${tag & 0xff}%02X${tag >> 8}%02X${typ}%02X00"),
        le32h(lit(cnt)), le32h(v))
    val data = when(isRgb,
      concat(col("ar_h"), col("ag_h"), col("ab_h"),
        rep(concat(col("br_h"), col("bg_h"), col("bb_h")), wh - 1)))
      .otherwise(concat(col("ar_h"), rep(col("br_h"), wh - 1)))
    // 10 entries, 12 bytes each; the RGB variant's 3 SHORT bits values
    // live right after the IFD's 4-byte next-IFD terminator
    val bitsAt = (ifdAt + lit(2) + lit(120) + lit(4)).cast("int")
    val ifd = concat(lit("0A00"),
      entry(256, 3, 1, w),
      entry(257, 3, 1, hh),
      when(isRgb, entry(258, 3, 3, bitsAt))
        .otherwise(entry(258, 3, 1, lit(8))),
      entry(259, 3, 1, lit(1)),
      entry(262, 3, 1, when(isRgb, lit(2)).otherwise(lit(1))),
      entry(273, 4, 1, lit(8)),
      entry(277, 3, 1, spp),
      entry(278, 3, 1, hh),
      entry(279, 4, 1, dataLen),
      entry(284, 3, 1, lit(1)),
      lit("00000000"),
      when(isRgb, lit("080008000800")).otherwise(lit("")))
    val dataLenOf = (wh * spp).cast("int")
    truncatedBlob(rasterParams(docs)
      .select(col("*"), (pmod(col("doc_id"), lit(2)) === 1).as("is_rgb"))
      .select(col("*"), when(isRgb, 3).otherwise(1).cast("int").as("spp"),
        data.as("data"))
      .select(col("*"), dataLenOf.as("data_len"),
        (lit(8) + dataLenOf).cast("int").as("ifd_at"))
      .select(col("doc_id"),
        concat(lit("49492A00"), le32h(ifdAt), col("data"), ifd).as("hex")), 40)
  }

  /** Baseline TIFF decode under the oracle (round 11 — the document-
    * scan container joins the still-image matrix): in-plan uncompressed
    * strip TIFFs ride the same [[Multimodal.featurize]] narrow raster
    * pass, dispatching [[graft.functions.TiffKernels]]; DuckDB predicts
    * n_bytes (8 + data + 126-byte IFD, +6 for the RGB bits tail) and
    * the channel means from the construction arithmetic. The compressed
    * and exotic branches (PackBits, LZW + predictor, WhiteIsZero,
    * palette, big-endian) are spec-pinned against the JDK's own TIFF
    * plugin. */
  private val qTiffFeatures = Q("q_tiff_features",
    (s, dir) => {
      val media = constructedTiffBlob(t(s, dir, "documents"))
      rasterFeatures(Multimodal.featurize(media, "doc_id", "blob", dim = 5,
        decoder = Multimodal.raster))
    },
    Some("""WITH p AS (
           |  SELECT doc_id,
           |         CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 16 END AS w,
           |         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS h,
           |         doc_id % 2 = 1 AS is_rgb,
           |         doc_id % 7 = 0 AS trunc,
           |         doc_id % 256 AS ar, (doc_id * 7) % 256 AS ag, (doc_id * 13) % 256 AS ab,
           |         (doc_id * 3) % 256 AS br, (doc_id * 5) % 256 AS bg, (doc_id * 11) % 256 AS bb
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, w, h, w * h AS wh, is_rgb, trunc,
           |         ar, ag, ab, br, bg, bb,
           |         8 + w * h * CASE WHEN is_rgb THEN 3 ELSE 1 END + 126 +
           |           CASE WHEN is_rgb THEN 6 ELSE 0 END AS blen
           |  FROM p)
           |SELECT CAST(doc_id AS BIGINT) AS media_id,
           |       CAST(CASE WHEN trunc THEN 20 ELSE blen END AS BIGINT) AS n_bytes,
           |       CASE WHEN trunc THEN NULL ELSE CAST(w AS BIGINT) END AS width,
           |       CASE WHEN trunc THEN NULL ELSE CAST(h AS BIGINT) END AS height,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round((ar + (wh - 1) * br) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_r,
           |       CASE WHEN trunc THEN NULL
           |            WHEN is_rgb THEN round((ag + (wh - 1) * bg) / CAST(wh AS DOUBLE), 6)
           |            ELSE round((ar + (wh - 1) * br) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_g,
           |       CASE WHEN trunc THEN NULL
           |            WHEN is_rgb THEN round((ab + (wh - 1) * bb) / CAST(wh AS DOUBLE), 6)
           |            ELSE round((ar + (wh - 1) * br) / CAST(wh AS DOUBLE), 6)
           |       END AS mean_b
           |FROM m""".stripMargin))

  /** Within-document line dedup under the oracle: multi-line fixtures
    * are constructed in-plan (the corpus text carries no newlines) with
    * planted repeats — the full text twice, a 40-char prefix twice, two
    * blank lines — and [[TF.dedupLinesWithin]] must keep exactly the
    * first occurrence of each non-blank line while blanks pass through.
    * The full cleaned STRING is hash-compared, not just the counts, so
    * order preservation and the join separator are pinned too. */
  private val qLineDedupWithin = Q("q_line_dedup_within",
    (s, dir) => {
      val built = concat_ws("\n", col("text"),
        substring(col("text"), 1, 40), col("text"), lit(""), lit(""),
        substring(col("text"), 1, 40))
      t(s, dir, "documents")
        .select(col("doc_id").cast("bigint").as("doc_id"),
          built.as("__t"))
        .select(col("doc_id"), TF.dedupLinesWithin(col("__t")).as("clean"),
          size(split(col("__t"), "\n")).cast("bigint").as("n_before"),
          size(split(TF.dedupLinesWithin(col("__t")), "\n"))
            .cast("bigint").as("n_after"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id,
           |         text || chr(10) || substr(text, 1, 40) || chr(10) || text
           |           || chr(10) || chr(10) || chr(10) || substr(text, 1, 40) AS t
           |  FROM documents),
           |s AS (SELECT doc_id, t, string_split(t, chr(10)) AS l FROM c),
           |k AS (SELECT doc_id, l,
           |             list_filter(l, (x, i) -> trim(x) = ''
           |                                      OR list_position(l, x) = i) AS kept
           |      FROM s)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       array_to_string(kept, chr(10)) AS clean,
           |       CAST(len(l) AS BIGINT) AS n_before,
           |       CAST(len(kept) AS BIGINT) AS n_after
           |FROM k""".stripMargin))

  /** Deterministic mixture upsampling under the oracle: per-source
    * rates (src0 ×2.3 up, src1 ×0.4 down, rest pass) drive
    * [[Ops.repeatByRate]], and the FULL (doc_id, copy_no) expansion is
    * hash-compared — DuckDB recomputes the md5 fraction and the range
    * explode. Rates are forced to DOUBLE on both sides so the
    * fractional-part comparison is the same IEEE arithmetic (a DECIMAL
    * 2.3 would make DuckDB's threshold exact where Spark's is not). */
  private val qRepeatMixture = Q("q_repeat_mixture",
    (s, dir) => {
      val rate = when(col("source") === "src0", 2.3)
        .when(col("source") === "src1", 0.4).otherwise(1.0)
      Ops.repeatByRate(t(s, dir, "documents"), "doc_id", rate, "rep-0")
        .select(col("doc_id").cast("bigint").as("doc_id"),
          col("copy_no").cast("bigint").as("copy_no"))
    },
    Some("""WITH r AS (
           |  SELECT doc_id,
           |         CASE WHEN source = 'src0' THEN CAST(2.3 AS DOUBLE)
           |              WHEN source = 'src1' THEN CAST(0.4 AS DOUBLE)
           |              ELSE CAST(1.0 AS DOUBLE) END AS rate,
           |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':rep-0'),
           |            1, 8))::BIGINT / 4294967296.0 AS frac
           |  FROM documents),
           |c AS (
           |  SELECT doc_id,
           |         CAST(floor(rate) + CASE WHEN frac < rate - floor(rate)
           |                                 THEN 1 ELSE 0 END AS INT) AS n
           |  FROM r)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CAST(unnest(range(1, n + 1)) AS BIGINT) AS copy_no
           |FROM c WHERE n >= 1""".stripMargin))

  /** Column profiling under the oracle — ONE fused aggregation pass
    * over documents (null/distinct/min/max per column), unpivoted from
    * the single aggregated row. The `lang` column carries real NULLs at
    * every SF, so the null accounting is load-bearing, and exact
    * distinct counts keep it hash-checkable. */
  private val qProfile = Q("q_profile",
    (s, dir) => Ops.profileColumns(t(s, dir, "documents"),
      Seq("doc_id", "lang", "source", "n_chars")),
    Some("""SELECT 'doc_id' AS col_name,
           |       CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
           |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           |       round(CAST(min(doc_id) AS DOUBLE), 6) AS min_num,
           |       round(CAST(max(doc_id) AS DOUBLE), 6) AS max_num,
           |       CAST(NULL AS VARCHAR) AS min_str,
           |       CAST(NULL AS VARCHAR) AS max_str
           |FROM documents
           |UNION ALL
           |SELECT 'lang', CAST(count(*) - count(lang) AS BIGINT),
           |       CAST(count(DISTINCT lang) AS BIGINT),
           |       NULL, NULL, CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
           |FROM documents
           |UNION ALL
           |SELECT 'source', CAST(count(*) - count(source) AS BIGINT),
           |       CAST(count(DISTINCT source) AS BIGINT),
           |       NULL, NULL, CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
           |FROM documents
           |UNION ALL
           |SELECT 'n_chars', CAST(count(*) - count(n_chars) AS BIGINT),
           |       CAST(count(DISTINCT n_chars) AS BIGINT),
           |       round(CAST(min(n_chars) AS DOUBLE), 6),
           |       round(CAST(max(n_chars) AS DOUBLE), 6), NULL, NULL
           |FROM documents""".stripMargin))

  /** The media EXCHANGE round-trip under the same oracle as
    * [[qMultimodal]]: the identical constructed blobs are exported one
    * object per blob ([[graft.sources.Sinks.writeBlobs]], executor-side
    * writes), read back through Spark's `binaryFile` source
    * ([[graft.sources.Ingest.readBlobs]] — id parsed from the object
    * name, content opaque), and only then decoded. A hash-green row
    * proves the file-per-object interchange layer is byte-transparent:
    * any truncation, name-mangling, or id-parse defect would shift the
    * features or lose rows. Truncated fixtures ride along as 20-byte
    * objects that must still land, read, and decode to NULL features.
    */
  /** The bloom-filter sink round-tripped under the oracle: documents
    * written via [[graft.sources.Sinks.writeParquetBloom]] (filters on
    * doc_id), read back with a pushed IN point lookup — the access
    * pattern the filters exist for (row-group skipping on a column the
    * layout is NOT sorted by; PlanSpec pins the pushed In filter). A
    * hash-green row proves the bloom options change bytes-on-disk
    * layout only, never results: any false-NEGATIVE in the filter
    * would drop rows here and fail the hash. */
  private val qBloomLookup = Q("q_bloom_lookup",
    (s, dir) => {
      val out = scratch("q_bloom_lookup")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.Sinks.writeParquetBloom(docs, s"$out/bloomed",
        Seq("doc_id"), ndvPerColumn = Map("doc_id" -> 1000000L))
      // 25 probes present at every SF (ids 3..411) — bloom correctness
      // is "no false NEGATIVES on present keys", so present probes are
      // what the hash check must cover
      val probes = (0 until 25).map(k => (k * 17L + 3L): java.lang.Long)
      s.read.parquet(s"$out/bloomed")
        .filter(col("doc_id").isin(probes: _*))
        .select(col("doc_id").cast("bigint").as("doc_id"), col("lang"),
          col("n_chars").cast("bigint").as("n_chars"))
    },
    Some(s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
            |       CAST(n_chars AS BIGINT) AS n_chars
            |FROM documents
            |WHERE doc_id IN (${(0 until 25).map(k => k * 17L + 3L).mkString(", ")})""".stripMargin))

  private val qBinaryIngest = Q("q_binary_ingest",
    (s, dir) => {
      val tmp = scratch("blobs")
      // r18 note: fanning the blob construction out was tried and
      // MEASURED WORSE (1-task write stage 1.16 s; 13-way 1.1-1.3 s;
      // 32-way 1.6-2.1 s) — the stage is filesystem-bound on parallel
      // small-file creates into one directory, not CPU-bound, so the
      // export keeps the source's natural partitioning.
      val media = constructedRasterBlob(t(s, dir, "documents"))
      graft.sources.Sinks.writeBlobs(media, "doc_id", "blob", tmp, "bin")
      rasterFeatures(Multimodal.featurize(
        graft.sources.Ingest.readBlobs(s, tmp, "*.bin")
          .select(col("media_id"), col("blob")),
        "media_id", "blob", dim = 5, decoder = Multimodal.raster))
    },
    qMultimodal.oracle)

  /** REAL audio decode under the oracle, the PCM twin of
    * [[qMultimodal]]: per-doc 16-bit mono WAV blobs assembled in-plan
    * (first frame +a·256, the rest −b·256 — two's-complement LE hex),
    * decoded by [[graft.functions.AudioKernels]], features checked
    * against DuckDB's closed-form expectations. Frame counts are powers
    * of two and amplitudes multiples of 256, so mean_abs and peak are
    * dyadic rationals — exact in float32 AND double, no rounding-parity
    * risk. doc_id%7 rows are truncated mid-header and must feature as
    * NULL (the decoder refuses partial data). */
  private val qAudioFeatures = Q("q_audio_features",
    (s, dir) => {
      val id = col("doc_id")
      val n = when(pmod(id, lit(4)) === 0, 8).when(pmod(id, lit(4)) === 1, 16)
        .when(pmod(id, lit(4)) === 2, 32).otherwise(64).cast("int")
      val a = (pmod(id, lit(127)) + 1).cast("int")
      val b = (pmod(id * 3, lit(127)) + 1).cast("int")
      val rate = (lit(8000) + pmod(id, lit(3)) * 4000).cast("int")
      val dataLen = (n * 2).cast("int")
      val wavHex = concat(
        lit("52494646"), le32h(lit(36) + dataLen), lit("57415645"),
        lit("666D7420"), le32h(lit(16)), le16h(lit(1)), le16h(lit(1)),
        le32h(rate), le32h(rate * 2), le16h(lit(2)), le16h(lit(16)),
        lit("64617461"), le32h(dataLen),
        le16h(a * 256),
        array_join(array_repeat(le16h(lit(65536) - b * 256), n - 1), ""))
      val media = truncatedBlob(
        t(s, dir, "documents").select(id, wavHex.as("hex")), 50)
      Multimodal.featurize(media, "doc_id", "blob", dim = 5,
          decoder = Multimodal.pcm)
        .select(col("media_id").cast("bigint").as("media_id"),
          col("n_bytes").cast("bigint").as("n_bytes"),
          get(col("feature"), lit(0)).cast("bigint").as("channels"),
          get(col("feature"), lit(1)).cast("bigint").as("sample_rate"),
          get(col("feature"), lit(2)).cast("bigint").as("n_frames"),
          round(get(col("feature"), lit(3)).cast("double"), 6).as("mean_abs"),
          round(get(col("feature"), lit(4)).cast("double"), 6).as("peak"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id,
           |         CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 16
           |              WHEN 2 THEN 32 ELSE 64 END AS n,
           |         doc_id % 127 + 1 AS a, (doc_id * 3) % 127 + 1 AS b,
           |         8000 + (doc_id % 3) * 4000 AS rate,
           |         doc_id % 7 = 0 AS trunc
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS media_id,
           |       CAST(CASE WHEN trunc THEN 25 ELSE 44 + 2 * n END AS BIGINT) AS n_bytes,
           |       CASE WHEN trunc THEN NULL ELSE CAST(1 AS BIGINT) END AS channels,
           |       CASE WHEN trunc THEN NULL ELSE CAST(rate AS BIGINT) END AS sample_rate,
           |       CASE WHEN trunc THEN NULL ELSE CAST(n AS BIGINT) END AS n_frames,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round((a + (n - 1) * b) / (n * 128.0), 6)
           |       END AS mean_abs,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round(greatest(a, b) / 128.0, 6)
           |       END AS peak
           |FROM p""".stripMargin))

  /** G.711 telephony audio decode under the oracle — REAL µ-law
    * (format 7, even docs) and A-law (format 6, odd docs) expansion via
    * [[graft.functions.AudioKernels]]'s pure-arithmetic ITU-T G.711
    * tables: constructed mono 8 kHz WAVs whose companded bytes follow a
    * closed formula, so DuckDB replays the segment+mantissa+bias
    * expansion bit-for-bit (amplitudes are /2^15-scaled integers —
    * every division is a power of two except the sample-count mean,
    * which rounds identically in both engines). Every 7th blob
    * truncated mid-header → NULL stats, visible row. */
  /** IMA ADPCM (WAV format 0x11) under the oracle (round 11): in-plan
    * mono files of 1-3 blocks whose nibbles are ALL ZERO — at step
    * index 0 a zero nibble adds step>>3 = 0 and the index clamps at 0,
    * so every sample of a block IS its header predictor and n_frames /
    * mean_abs / peak are closed-form for DuckDB. The real nibble
    * dynamics (step walks, clamps, sign bits) are pinned against an
    * independent transcription of the IMA recurrence in
    * [[graft.AdpcmSpec]] — the same plumbing-under-oracle /
    * dynamics-under-spec split as the PNG STORED-deflate families.
    * Every 7th doc truncated (NULL row). */
  private val qAudioAdpcm = Q("q_audio_adpcm",
    (s, dir) => {
      val id = col("doc_id")
      val nb = (lit(1) + pmod(id, lit(3))).cast("int") // 1..3 blocks
      // block k's predictor in [-1000, 1000]; le16 of the two's
      // complement via & 0xFFFF
      val blocksHex = array_join(
        transform(sequence(lit(0), nb - 1), k => {
          val p = pmod(id * 37 + k * 101, lit(2001)).cast("int") - 1000
          concat(le16h(p.bitwiseAND(lit(65535))), lit("0000"), lit("00000000"))
        }), "")
      val wavHex = concat(
        lit("52494646"), le32h(lit(40) + nb * 8), lit("57415645"),
        lit("666D7420"), le32h(lit(20)), le16h(lit(17)), le16h(lit(1)),
        le32h(lit(8000)), le32h(lit(7111)), le16h(lit(8)), le16h(lit(4)),
        le16h(lit(2)), le16h(lit(9)),
        lit("64617461"), le32h(nb * 8), blocksHex)
      val media = truncatedBlob(
        t(s, dir, "documents").select(id, wavHex.as("hex")), 50)
      Multimodal.featurize(media, "doc_id", "blob", dim = 5,
          decoder = Multimodal.pcm)
        .select(col("media_id").cast("bigint").as("media_id"),
          col("n_bytes").cast("bigint").as("n_bytes"),
          get(col("feature"), lit(0)).cast("bigint").as("channels"),
          get(col("feature"), lit(1)).cast("bigint").as("sample_rate"),
          get(col("feature"), lit(2)).cast("bigint").as("n_frames"),
          round(get(col("feature"), lit(3)).cast("double"), 6).as("mean_abs"),
          round(get(col("feature"), lit(4)).cast("double"), 6).as("peak"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id, 1 + doc_id % 3 AS nb, doc_id % 7 = 0 AS trunc
           |  FROM documents),
           |blk AS (
           |  SELECT doc_id, nb,
           |         (doc_id * 37 + k * 101) % 2001 - 1000 AS pred
           |  FROM p, (SELECT unnest(range(0, 3)) AS k) WHERE k < nb AND NOT trunc),
           |agg AS (
           |  SELECT doc_id, nb,
           |         sum(abs(pred)) AS sp, max(abs(pred)) AS mp
           |  FROM blk GROUP BY doc_id, nb)
           |SELECT CAST(p.doc_id AS BIGINT) AS media_id,
           |       CAST(CASE WHEN trunc THEN 25 ELSE 48 + p.nb * 8 END AS BIGINT) AS n_bytes,
           |       CASE WHEN trunc THEN NULL ELSE CAST(1 AS BIGINT) END AS channels,
           |       CASE WHEN trunc THEN NULL ELSE CAST(8000 AS BIGINT) END AS sample_rate,
           |       CASE WHEN trunc THEN NULL ELSE CAST(p.nb * 9 AS BIGINT) END AS n_frames,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round((9.0 * sp / 32768.0) / (9.0 * p.nb), 6) END AS mean_abs,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round(mp / 32768.0, 6) END AS peak
           |FROM p LEFT JOIN agg ON p.doc_id = agg.doc_id""".stripMargin))

  /** 80-bit IEEE extended hex for an integer (AIFF sample rates). */
  private def ext80Hex(v: Long): String = {
    var m = v
    var e = 16383 + 63
    while ((m & (1L << 63)) == 0) { m <<= 1; e -= 1 }
    f"$e%04X$m%016X"
  }

  /** AU and AIFF containers under the oracle (round 11): even ids are
    * Sun AU µ-law telephony blobs (the SAME byte pattern as
    * [[qAudioG711]], so the oracle reuses its closed-form G.711
    * expansion — only the container walk differs), odd ids are AIFF
    * big-endian PCM16 with dyadic samples (first frame +a·256, the
    * rest −b·256 — exact in float32 and double). Both containers'
    * decode is also pinned against javax.sound's own writers in
    * [[graft.AudioContainersSpec]]. Every 7th doc truncated (NULL). */
  private val qAudioContainers = Q("q_audio_containers",
    (s, dir) => {
      val id = col("doc_id")
      val n = (lit(16) + pmod(id, lit(3)) * 8).cast("int") // 16/24/32 frames
      val isAu = pmod(id, lit(2)) === 0
      val auData = array_join(
        transform(sequence(lit(0), n - 1),
          i => h2(pmod(id * 13 + i * 29, lit(256)))), "")
      val auHex = concat(lit("2E736E64"), be32h(lit(24)), be32h(n),
        be32h(lit(1)), be32h(lit(8000)), be32h(lit(1)), auData)
      val a = (pmod(id, lit(127)) + 1).cast("int")
      val b = (pmod(id * 3, lit(127)) + 1).cast("int")
      val aiffData = concat(h2(a), lit("00"),
        rep(concat(h2(lit(256) - b), lit("00")), n - 1))
      val aiffHex = concat(lit("464F524D"), be32h(lit(46) + n * 2),
        lit("41494646"),
        lit("434F4D4D"), be32h(lit(18)), lit("0001"), be32h(n),
        lit("0010"), lit(ext80Hex(8000)),
        lit("53534E44"), be32h(lit(8) + n * 2), be32h(lit(0)), be32h(lit(0)),
        aiffData)
      val wavHex = when(isAu, auHex).otherwise(aiffHex)
      val media = truncatedBlob(
        t(s, dir, "documents").select(id, wavHex.as("hex")), 50)
      Multimodal.featurize(media, "doc_id", "blob", dim = 5,
          decoder = Multimodal.pcm)
        .select(col("media_id").cast("bigint").as("media_id"),
          col("n_bytes").cast("bigint").as("n_bytes"),
          get(col("feature"), lit(0)).cast("bigint").as("channels"),
          get(col("feature"), lit(1)).cast("bigint").as("sample_rate"),
          get(col("feature"), lit(2)).cast("bigint").as("n_frames"),
          round(get(col("feature"), lit(3)).cast("double"), 6).as("mean_abs"),
          round(get(col("feature"), lit(4)).cast("double"), 6).as("peak"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id, 16 + (doc_id % 3) * 8 AS n,
           |         doc_id % 2 = 0 AS is_au, doc_id % 7 = 0 AS trunc,
           |         doc_id % 127 + 1 AS a, (doc_id * 3) % 127 + 1 AS b
           |  FROM documents),
           |s AS (
           |  SELECT doc_id, n, (doc_id * 13 + i * 29) % 256 AS bv
           |  FROM p, (SELECT unnest(range(0, 32)) AS i)
           |  WHERE i < n AND NOT trunc AND is_au),
           |lin AS (
           |  SELECT doc_id, n,
           |    CASE WHEN (255 - bv) >= 128
           |         THEN 132 - ((((255 - bv) % 16) * 8 + 132) * (1 << (((255 - bv) // 16) % 8)))
           |         ELSE ((((255 - bv) % 16) * 8 + 132) * (1 << (((255 - bv) // 16) % 8))) - 132 END AS v
           |  FROM s),
           |agg AS (
           |  -- the engine's feature vector is FLOAT32: squeeze the
           |  -- double mean through a float before the 6-digit round
           |  SELECT doc_id,
           |         round(CAST(CAST(avg(abs(v)) / 32768 AS REAL) AS DOUBLE), 6) AS mean_abs,
           |         round(CAST(CAST(max(abs(v)) / 32768.0 AS REAL) AS DOUBLE), 6) AS peak
           |  FROM lin GROUP BY doc_id)
           |SELECT CAST(p.doc_id AS BIGINT) AS media_id,
           |       CAST(CASE WHEN trunc THEN 25
           |                 WHEN is_au THEN 24 + n
           |                 ELSE 54 + 2 * n END AS BIGINT) AS n_bytes,
           |       CASE WHEN trunc THEN NULL ELSE CAST(1 AS BIGINT) END AS channels,
           |       CASE WHEN trunc THEN NULL ELSE CAST(8000 AS BIGINT) END AS sample_rate,
           |       CASE WHEN trunc THEN NULL ELSE CAST(n AS BIGINT) END AS n_frames,
           |       CASE WHEN trunc THEN NULL
           |            WHEN is_au THEN agg.mean_abs
           |            ELSE round(CAST(CAST((a + (n - 1) * CAST(b AS DOUBLE)) / (128.0 * n) AS REAL) AS DOUBLE), 6)
           |       END AS mean_abs,
           |       CASE WHEN trunc THEN NULL
           |            WHEN is_au THEN agg.peak
           |            ELSE round(CAST(CAST(greatest(a, b) / 128.0 AS REAL) AS DOUBLE), 6)
           |       END AS peak
           |FROM p LEFT JOIN agg ON p.doc_id = agg.doc_id""".stripMargin))

  /** WAVE_FORMAT_EXTENSIBLE (0xFFFE) under the oracle (round 12): the
    * GUID wrapper real-world corpora use for >2-channel and 24-bit PCM.
    * Three member classes by doc_id%3 — mono PCM16, STEREO PCM24, and
    * 4-CHANNEL PCM16 — all wrapped in the extensible fmt chunk (cbSize
    * 22, KSDATAFORMAT SubFormat GUID carrying the inner tag), assembled
    * in-plan as hex. Samples are dyadic by construction (first sample
    * +a·unit, the rest −b·unit with unit = 256 for 16-bit and 65536 for
    * 24-bit, so every amplitude is exactly a/128 or b/128 in float32
    * AND double) — DuckDB replays mean_abs/peak closed-form. A wrong
    * GUID suffix and every 7th blob (truncated mid-fmt) must feature as
    * NULL; [[graft.AudioContainersSpec]] additionally pins the
    * fail-closed GUID and cbSize shapes byte-by-byte. */
  private val qAudioExtensible = Q("q_audio_extensible",
    (s, dir) => {
      val id = col("doc_id")
      val m = pmod(id, lit(3))
      val ch = when(m === 0, 1).when(m === 1, 2).otherwise(4).cast("int")
      val bps = when(m === 1, 3).otherwise(2).cast("int") // bytes/sample
      val n = lit(16) // frames
      val a = (pmod(id, lit(127)) + 1).cast("int")
      val b = (pmod(id * 3, lit(127)) + 1).cast("int")
      val blockAlign = ch * bps
      val dataLen = n * blockAlign
      val rate = lit(8000)
      // first sample +a·unit, the rest −b·unit (LE two's complement)
      val firstHex = when(m === 1, concat(lit("0000"), h2(a)))
        .otherwise(le16h(a * 256))
      val restHex = when(m === 1, concat(lit("0000"), h2(lit(256) - b)))
        .otherwise(le16h(lit(65536) - b * 256))
      val dataHex = concat(firstHex,
        array_join(array_repeat(restHex, n * ch - 1), ""))
      // SubFormat GUID: inner tag (LE u16) + the fixed KSDATAFORMAT
      // suffix 0000-0010-8000-00AA00389B71
      val guidHex = concat(le16h(lit(1)), lit("000000001000800000AA00389B71"))
      val fmtHex = concat(
        le16h(lit(0xfffe)), le16h(ch), le32h(rate), le32h(rate * blockAlign),
        le16h(blockAlign), le16h(bps * 8), // container bits
        le16h(lit(22)),                    // cbSize
        le16h(bps * 8),                    // wValidBitsPerSample
        le32h(lit(0)),                     // dwChannelMask: unspecified
        guidHex)
      val wavHex = concat(
        lit("52494646"), le32h(lit(60) + dataLen), lit("57415645"),
        lit("666D7420"), le32h(lit(40)), fmtHex,
        lit("64617461"), le32h(dataLen), dataHex)
      val media = truncatedBlob(
        t(s, dir, "documents").select(id, wavHex.as("hex")), 50)
      Multimodal.featurize(media, "doc_id", "blob", dim = 5,
          decoder = Multimodal.pcm)
        .select(col("media_id").cast("bigint").as("media_id"),
          col("n_bytes").cast("bigint").as("n_bytes"),
          get(col("feature"), lit(0)).cast("bigint").as("channels"),
          get(col("feature"), lit(1)).cast("bigint").as("sample_rate"),
          get(col("feature"), lit(2)).cast("bigint").as("n_frames"),
          round(get(col("feature"), lit(3)).cast("double"), 6).as("mean_abs"),
          round(get(col("feature"), lit(4)).cast("double"), 6).as("peak"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id,
           |         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS ch,
           |         CASE doc_id % 3 WHEN 1 THEN 3 ELSE 2 END AS bps,
           |         doc_id % 127 + 1 AS a, (doc_id * 3) % 127 + 1 AS b,
           |         doc_id % 7 = 0 AS trunc
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS media_id,
           |       CAST(CASE WHEN trunc THEN 25
           |                 ELSE 68 + 16 * ch * bps END AS BIGINT) AS n_bytes,
           |       CASE WHEN trunc THEN NULL ELSE CAST(ch AS BIGINT) END AS channels,
           |       CASE WHEN trunc THEN NULL ELSE CAST(8000 AS BIGINT) END AS sample_rate,
           |       CASE WHEN trunc THEN NULL ELSE CAST(16 AS BIGINT) END AS n_frames,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round((a + (16 * ch - 1) * b) / (16.0 * ch * 128.0), 6)
           |       END AS mean_abs,
           |       CASE WHEN trunc THEN NULL
           |            ELSE round(greatest(a, b) / 128.0, 6)
           |       END AS peak
           |FROM p""".stripMargin))

  /** REAL FLAC decode under the oracle (round 13 stretch) — the
    * lossless-COMPRESSED tier of the audio matrix, riding the same
    * [[Multimodal.pcm]] dispatch as WAV/AU/AIFF: per-doc valid FLAC
    * streams (magic, STREAMINFO, frame header with verified CRC-8,
    * CONSTANT / FIXED-order-1-with-Rice / VERBATIM subframes across
    * four blocksize codes, verified frame CRC-16) are assembled
    * in-plan from [[FlacFixture]]'s byte-derived pieces — the CRC-16,
    * a function of the per-doc amplitude, rides as a precomputed
    * 127-entry array literal. All samples in a stream equal a·256
    * (a = doc_id%127+1), so mean_abs = peak = a/128 — dyadic,
    * float-exact, tie-rounding verified equal between engines. Every
    * 7th doc truncates to 20 bytes → NULL features (the decoder
    * refuses partial data); the general decode paths (LPC, escape
    * codes, multi-partition Rice, stereo decorrelation, wasted bits,
    * fuzz) are pinned in FlacSpec against an independent encoder.
    */
  private val qAudioFlac = Q("q_audio_flac",
    (s, dir) => {
      val id = col("doc_id")
      val a = (pmod(id, lit(127)) + 1).cast("int")
      val bsf = pmod(id, lit(4))
      val sff = pmod(id, lit(3))
      def tpl(b: Int, f: Int): Column = {
        val p = FlacFixture.pieces((b, f))
        val crc = element_at(typedLit(p.crcHex), a)
        p.midHex match {
          case Some(mid) => concat(lit(p.prefixHex), h2(a), lit(mid), crc)
          case None => concat(lit(p.prefixHex),
            array_join(array_repeat(concat(h2(a), lit("00")), p.bs), ""), crc)
        }
      }
      val fullHex = (for { b <- 0 until 4; f <- 0 until 3 } yield (b, f))
        .foldLeft(lit(null).cast("string")) { case (acc, (b, f)) =>
          when(bsf === b && sff === f, tpl(b, f)).otherwise(acc)
        }
      val media = truncatedBlob(
        t(s, dir, "documents").select(id, fullHex.as("hex")), 40)
      Multimodal.featurize(media, "doc_id", "blob", dim = 5,
          decoder = Multimodal.pcm)
        .select(col("media_id").cast("bigint").as("media_id"),
          col("n_bytes").cast("bigint").as("n_bytes"),
          get(col("feature"), lit(0)).cast("bigint").as("channels"),
          get(col("feature"), lit(1)).cast("bigint").as("sample_rate"),
          get(col("feature"), lit(2)).cast("bigint").as("n_frames"),
          round(get(col("feature"), lit(3)).cast("double"), 6).as("mean_abs"),
          round(get(col("feature"), lit(4)).cast("double"), 6).as("peak"))
    },
    Some {
      val nbCase = (for { b <- 0 until 4; f <- 0 until 3 } yield
        s"WHEN bsf = $b AND sff = $f THEN ${FlacFixture.pieces((b, f)).nBytes}")
        .mkString(" ")
      s"""WITH p AS (
         |  SELECT doc_id, doc_id % 4 AS bsf, doc_id % 3 AS sff,
         |         doc_id % 127 + 1 AS a, doc_id % 7 = 0 AS trunc
         |  FROM documents)
         |SELECT CAST(doc_id AS BIGINT) AS media_id,
         |       CAST(CASE WHEN trunc THEN 20 ELSE CASE $nbCase END END AS BIGINT) AS n_bytes,
         |       CASE WHEN trunc THEN NULL ELSE CAST(1 AS BIGINT) END AS channels,
         |       CASE WHEN trunc THEN NULL ELSE CAST(8000 AS BIGINT) END AS sample_rate,
         |       CASE WHEN trunc THEN NULL ELSE CAST(CASE bsf WHEN 0 THEN 192 WHEN 1 THEN 256 WHEN 2 THEN 576 ELSE 512 END AS BIGINT) END AS n_frames,
         |       CASE WHEN trunc THEN NULL ELSE round(a / 128.0, 6) END AS mean_abs,
         |       CASE WHEN trunc THEN NULL ELSE round(a / 128.0, 6) END AS peak
         |FROM p""".stripMargin
    })

  private val qAudioG711 = Q("q_audio_g711",
    (s, dir) => {
      val id = col("doc_id")
      val n = (lit(16) + pmod(id, lit(3)) * 8).cast("int") // 16/24/32 frames
      val fmt = when(pmod(id, lit(2)) === 0, 7).otherwise(6).cast("int")
      val dataHex = array_join(
        transform(sequence(lit(0), n - 1),
          i => h2(pmod(id * 13 + i * 29, lit(256)))), "")
      val wavHex = concat(
        lit("52494646"), le32h(lit(36) + n), lit("57415645"),
        lit("666D7420"), le32h(lit(16)), le16h(fmt), le16h(lit(1)),
        le32h(lit(8000)), le32h(lit(8000)), le16h(lit(1)), le16h(lit(8)),
        lit("64617461"), le32h(n), dataHex)
      val media = truncatedBlob(
        t(s, dir, "documents").select(id, wavHex.as("hex")), 50)
      Multimodal.featurize(media, "doc_id", "blob", dim = 5,
          decoder = Multimodal.pcm)
        .select(col("media_id").cast("bigint").as("media_id"),
          col("n_bytes").cast("bigint").as("n_bytes"),
          get(col("feature"), lit(0)).cast("bigint").as("channels"),
          get(col("feature"), lit(1)).cast("bigint").as("sample_rate"),
          get(col("feature"), lit(2)).cast("bigint").as("n_frames"),
          round(get(col("feature"), lit(3)).cast("double"), 6).as("mean_abs"),
          round(get(col("feature"), lit(4)).cast("double"), 6).as("peak"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id, 16 + (doc_id % 3) * 8 AS n,
           |         doc_id % 2 = 0 AS mu, doc_id % 7 = 0 AS trunc
           |  FROM documents),
           |s AS (
           |  SELECT doc_id, n, mu, (doc_id * 13 + i * 29) % 256 AS bv
           |  FROM p, (SELECT unnest(range(0, 32)) AS i) WHERE i < n AND NOT trunc),
           |lin AS (
           |  SELECT doc_id, n,
           |    CASE WHEN mu THEN
           |      CASE WHEN (255 - bv) >= 128
           |           THEN 132 - ((((255 - bv) % 16) * 8 + 132) * (1 << (((255 - bv) // 16) % 8)))
           |           ELSE ((((255 - bv) % 16) * 8 + 132) * (1 << (((255 - bv) // 16) % 8))) - 132 END
           |    ELSE
           |      CASE WHEN xor(bv, 85) >= 128 THEN 1 ELSE -1 END *
           |      CASE WHEN ((xor(bv, 85) // 16) % 8) = 0 THEN (xor(bv, 85) % 16) * 16 + 8
           |           WHEN ((xor(bv, 85) // 16) % 8) = 1 THEN (xor(bv, 85) % 16) * 16 + 264
           |           ELSE ((xor(bv, 85) % 16) * 16 + 264) * (1 << (((xor(bv, 85) // 16) % 8) - 1)) END
           |    END AS v
           |  FROM s),
           |agg AS (
           |  -- the engine's feature vector is FLOAT32 (Multimodal
           |  -- featureSchema), so the double mean is squeezed through a
           |  -- float before the 6-digit round — mirror that cast here
           |  -- (peak has <= 15 significand bits and is float-exact, but
           |  -- gets the same treatment for uniformity)
           |  SELECT doc_id,
           |         round(CAST(CAST(avg(abs(v)) / 32768 AS REAL) AS DOUBLE), 6) AS mean_abs,
           |         round(CAST(CAST(max(abs(v)) / 32768.0 AS REAL) AS DOUBLE), 6) AS peak
           |  FROM lin GROUP BY doc_id)
           |SELECT CAST(p.doc_id AS BIGINT) AS media_id,
           |       CAST(CASE WHEN trunc THEN 25 ELSE 44 + n END AS BIGINT) AS n_bytes,
           |       CASE WHEN trunc THEN NULL ELSE CAST(1 AS BIGINT) END AS channels,
           |       CASE WHEN trunc THEN NULL ELSE CAST(8000 AS BIGINT) END AS sample_rate,
           |       CASE WHEN trunc THEN NULL ELSE CAST(n AS BIGINT) END AS n_frames,
           |       CASE WHEN trunc THEN NULL ELSE agg.mean_abs END AS mean_abs,
           |       CASE WHEN trunc THEN NULL ELSE agg.peak END AS peak
           |FROM p LEFT JOIN agg ON p.doc_id = agg.doc_id""".stripMargin))

  /** Fixed JPEG segments for the [[qJpegFeatures]] fixtures: one 8x8
    * single-MCU baseline JPEG per doc — grayscale (1 component) for
    * even ids, 4:4:4 YCbCr (3 components) for odd — with the standard
    * Annex K luminance Huffman tables and a flat quant table of 8.
    * Flat-DC blocks make the decode CLOSED-FORM: dequantized DC is
    * v*8, the IDCT of a DC-only block is DC/8, so every pixel is
    * exactly 128+v and chroma sits at 128 (zero chroma -> R=G=B=Y),
    * which is what lets DuckDB predict the means arithmetically. The
    * entropy segment is 2 bytes (gray) / 4 bytes (color) whose layout
    * is affine in v because a category-6 DC code is fixed-length:
    * [1110|v5..v0|EOB|pad]. v in [32, 63] keeps every byte below the
    * 0xFF stuffing threshold and every pixel in [160, 191] (no clamp).
    */
  private[graft] lazy val jpegFixture: (String, String, Int, Int) = {
    def seg(marker: Int, payload: Array[Int]): Array[Int] =
      Array(0xff, marker, (payload.length + 2) >> 8, (payload.length + 2) & 0xff) ++
        payload
    val dcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    val dcVals = (0 to 11).toArray
    val acBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
    val acVals = Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
      0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
      0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
      0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
      0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
      0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
      0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
      0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
      0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
      0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
      0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
      0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
      0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
      0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
    def sof(nf: Int) = seg(0xc0,
      Array(8, 0, 8, 0, 8, nf) ++
        (1 to nf).flatMap(i => Array(i, 0x11, 0)))
    def sos(nf: Int) = seg(0xda,
      Array(nf) ++ (1 to nf).flatMap(i => Array(i, 0x00)) ++ Array(0, 63, 0))
    val common = Array(0xff, 0xd8) ++
      seg(0xdb, Array(0x00) ++ Array.fill(64)(8)) ++
      seg(0xc4, Array(0x00) ++ dcBits ++ dcVals) ++
      seg(0xc4, Array(0x10) ++ acBits ++ acVals)
    val grayHead = common ++ sof(1) ++ sos(1)
    val colorHead = common ++ sof(3) ++ sos(3)
    (upperHexOf(grayHead), upperHexOf(colorHead),
      grayHead.length + 2 + 2, colorHead.length + 4 + 2) // + entropy + EOI
  }

  /** PROGRESSIVE (SOF2) single-MCU gray fixture for the q_jpeg_features
    * family (round 11): the same headers as [[jpegFixture]]'s gray
    * stream but SOF2 and TWO scans — a full-precision DC-first scan
    * (whose 2 entropy bytes are the in-plan part: category-6 code 1110
    * + 6 magnitude bits + pad 1s, exactly the baseline DC bit shape
    * with EOB replaced by padding) and a constant AC scan [1,63] that
    * is one EOB0 code (0xAF) — so the progressive stream encodes the
    * SAME flat block as the baseline family and must decode to the
    * SAME means, with only n_bytes distinguishing the modes.
    * Returns (headHex, constant tailHex after the 2 entropy bytes,
    * total byte length). */
  private lazy val jpegProgFixture: (String, String, Int) = {
    def seg(marker: Int, payload: Array[Int]): Array[Int] =
      Array(0xff, marker, (payload.length + 2) >> 8, (payload.length + 2) & 0xff) ++
        payload
    val dcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    val dcVals = (0 to 11).toArray
    val acBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
    val acVals = Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
      0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
      0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
      0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
      0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
      0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
      0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
      0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
      0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
      0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
      0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
      0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
      0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
      0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
    val head = Array(0xff, 0xd8) ++
      seg(0xdb, Array(0x00) ++ Array.fill(64)(8)) ++
      seg(0xc4, Array(0x00) ++ dcBits ++ dcVals) ++
      seg(0xc4, Array(0x10) ++ acBits ++ acVals) ++
      seg(0xc2, Array(8, 0, 8, 0, 8, 1, 1, 0x11, 0)) ++
      seg(0xda, Array(1, 1, 0x00, 0, 0, 0)) // DC first, Ah=Al=0
    val tail = seg(0xda, Array(1, 1, 0x00, 1, 63, 0)) ++ // AC [1,63] first
      Array(0xaf) ++ // one EOB0 (1010) + pad 1s
      Array(0xff, 0xd9)
    (upperHexOf(head), upperHexOf(tail), head.length + 2 + tail.length)
  }

  /** Constructed single-MCU JPEG blob for `id` (grayscale for even ids,
    * 4:4:4 color for odd; gray ids divisible by 3 are PROGRESSIVE
    * streams of the same flat block — identical means, different
    * n_bytes; every 7th truncated to 20 bytes — mid-DQT): `doc_id` and
    * `blob` of each of `docs`. */
  private def constructedJpegBlob(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val (grayHead, colorHead, _, _) = jpegFixture
    val (progHead, progTail, _) = jpegProgFixture
    val v = (pmod(id, lit(32)) + 32).cast("int")
    val b0 = h2(shiftright(v, 2) + lit(224)) // 1110|v5..v2
    val grayHex = concat(lit(grayHead), b0,
      h2(v.bitwiseAND(lit(3)) * 64 + lit(43)), lit("FFD9"))
    val progHex = concat(lit(progHead), b0,
      h2(v.bitwiseAND(lit(3)) * 64 + lit(63)), lit(progTail))
    val colorHex = concat(lit(colorHead), b0,
      h2(v.bitwiseAND(lit(3)) * 64 + lit(40)), lit("A2BF"), lit("FFD9"))
    val fullHex = when(pmod(id, lit(6)) === 0, progHex)
      .when(pmod(id, lit(2)) === 0, grayHex).otherwise(colorHex)
    truncatedBlob(docs.select(id, fullHex.as("hex")), 40)
  }

  /** MP4 container with a 4-frame MJPEG video track, assembled in-plan:
    * ftyp + mdat (4 single-MCU grayscale JPEGs, frame f of doc id
    * carrying flat value v = (id + 7f) mod 32 + 32) + moov whose stbl
    * declares stsd('jpeg'), fixed-size stsz, one stsc run, and an stco
    * pointing at byte 24 (mdat content — constant because every header
    * before it is). Every 9th doc is garbage (the corrupt channel).
    * All box sizes are closed-form from the gray JPEG fixture length. */
  /** In-plan MJPEG MP4: `nFrames` single-MCU gray frames whose DC
    * values come from `frameVal(id, f)` (must land in [0, 127] for the
    * fixed-length scan encoding; decoded pixel value = 128 + v). All
    * frames share one size, so the sample tables stay constant-width
    * and only mdat content + two counts vary with nFrames. */
  private def constructedMjpegMp4Blob(id: Column, nFrames: Int = 4,
      frameVal: (Column, Column) => Column =
        (id, f) => pmod(id + lit(7) * f, lit(32)) + 32): Column = {
    def be32(n: Long): String = f"$n%08X"
    val z = "00000000"
    val (grayHead, _, grayLen, _) = jpegFixture
    // ONE transform/sequence lambda, not nFrames unrolled concat
    // pieces: the 68-frame near-dup fixture blew whole-stage codegen's
    // 64 KB method limit in the expanded form (the r15 phash lesson) —
    // the stage silently fell back to interpreted mode and the query
    // cost 9.4 s instead of ~1 s at sf0.1
    val framesHex = array_join(
      transform(sequence(lit(0), lit(nFrames - 1)), f => {
        val v = frameVal(id, f).cast("int")
        concat(lit(grayHead), h2(shiftright(v, 2) + lit(224)),
          h2(v.bitwiseAND(lit(3)) * 64 + lit(43)), lit("FFD9"))
      }), "")
    val mdat = concat(lit(be32(8 + nFrames.toLong * grayLen) + "6D646174"),
      framesHex)
    val stsd = be32(24) + "73747364" + z + be32(1) + be32(8) + "6A706567"
    val stsz = be32(20) + "7374737A" + z + be32(grayLen.toLong) + be32(nFrames.toLong)
    val stsc = be32(28) + "73747363" + z + be32(1) + be32(1) + be32(nFrames.toLong) + be32(1)
    val stco = be32(20) + "7374636F" + z + be32(1) + be32(24)
    val stbl = be32(100) + "7374626C" + stsd + stsz + stsc + stco
    val minf = be32(108) + "6D696E66" + stbl
    val hdlr = be32(33) + "68646C72" + z + z + "76696465" + z * 3 + "00"
    val mdhd = be32(32) + "6D646864" + z + z + z + be32(90000) + be32(12000) + z
    val mdia = be32(181) + "6D646961" + mdhd + hdlr + minf
    val trak = be32(189) + "7472616B" + mdia
    val mvhd = be32(108) + "6D766864" + z + z + z + be32(600) + be32(2400) + z * 20
    val moov = be32(305) + "6D6F6F76" + mvhd + trak
    val good = concat(lit(be32(16) + "66747970" + "69736F6D" + z), mdat, lit(moov))
    unhex(when(pmod(id, lit(9)) === 0, lit("DEADBEEF00112233")).otherwise(good))
  }

  /** Video perceptual near-dup under the oracle (round 16): the audio
    * envelope recipe on the frame axis — 68-frame in-plan MJPEG MP4s
    * (quadratic per-frame DC values, every 10th doc a near-twin with
    * two perturbed frames → ≤3 fingerprint bits, every 9th doc junk
    * bytes → NULL, no pairs), fingerprinted by
    * the `video_dhash64` kernel (REAL demux + JPEG decode
    * per frame, integer mean floor-lumas, 65 sampled envelope
    * positions, gradient bits) and paired by the banded Hamming
    * machinery. The oracle replays frame values → lumas → envelope →
    * 64 bit terms → brute-force join; frames never shuffle (the
    * fingerprint collapses each video to 8 bytes in the scan
    * projection — pinned in PlanSpec alongside the image family). */
  private val qVideoNearDup = Q("q_video_neardup",
    (s, dir) => {
      val id = col("doc_id")
      val blob = constructedMjpegMp4Blob(id, nFrames = 68,
        frameVal = (idc, f) => {
          val base = when(pmod(idc, lit(10)) === 1, idc - 1).otherwise(idc)
          val isDup = pmod(idc, lit(10)) === 1
          val v = pmod(base * 131 + f * 197, lit(65521))
          val g0 = pmod(pmod(v * v, lit(65521)) + f * 13, lit(32))
          val pert = when(isDup && (f === 0 || f === 40), 8L).otherwise(lit(0L))
          pmod(g0 + pert, lit(32)) + 32
        })
      // r17 opt: the 68-frame JPEG decode per doc is the cost — fan the
      // NARROW id projection out across cores BEFORE the blob is built,
      // so the decode parallelizes while the exchange carries 8 bytes a
      // row and frames still never shuffle (guide §2.5; Ops
      // .fanOutForCompute is a no-op once the scan has >= cores splits).
      // r18 cost gate: 2 KB of id-projection bytes per task — the most
      // expensive kernel on the surface (68 decodes/row) keeps near-max
      // fan-out (driver-verified 7.2× in r17).
      val vids = Ops.fanOutForCompute(
          t(s, dir, "documents").select(id.cast("bigint").as("doc_id")),
          2 * 1024L, col("doc_id"))
        .select(col("doc_id"), blob.as("video"))
      Dedup.sketchPairs(vids, Kernels.videoDhash64(col("video")), "doc_id",
          maxHamming = 6, bands = 8, keyBands = 2)
        .select(col("id_a").cast("bigint").as("id_a"),
          col("id_b").cast("bigint").as("id_b"),
          col("hamming").cast("bigint").as("hamming"))
    },
    Some(OracleSqlGen.videoNearDup(maxHamming = 6)))

  /** Video PIXEL decode for the MJPEG codec class — the capability that
    * retires the last codec stub for self-contained-frame video:
    * in-plan MP4s carry a 4-frame MJPEG track; the codegen
    * `mjpeg_frames` kernel slices the
    * samples out via the stsd/stsz/stsc/stco walk; each frame then
    * rides the EXISTING baseline-JPEG decode
    * ([[Multimodal.raster]] → [[graft.functions.JpegKernels]]) to
    * per-frame dimensions and channel means. DuckDB predicts every
    * value from the construction arithmetic (flat gray frames decode
    * to exact integer means, no rounding-parity risk), so
    * build → demux → decode → features is hash-checked end to end.
    * Corrupt containers keep one visible NULL row (posexplode_outer).
    * Compressed codecs (avc1, …) remain a declared refusal — NULL from
    * the extractor, never a fake decode. */
  private val qVideoFrames = Q("q_video_frames",
    (s, dir) => {
      val fr = t(s, dir, "documents")
        .select(col("doc_id"),
          Kernels.mjpegFrames(
            constructedMjpegMp4Blob(col("doc_id"))).as("frames"))
        .select(col("doc_id"), posexplode_outer(col("frames")).as(Seq("fi", "frame")))
      // featurize carries ONE id column — pack (doc, frame) into it
      // (4 frames < 8); corrupt docs' null fi packs as frame 0
      val packed = fr.select(
        (col("doc_id") * 8 + coalesce(col("fi"), lit(0))).as("fid"),
        col("frame"))
      val feats = rasterFeatures(Multimodal.featurize(packed, "fid", "frame",
        dim = 5, decoder = Multimodal.raster))
      feats.select(
        (col("media_id") / 8).cast("bigint").as("doc_id"),
        pmod(col("media_id"), lit(8)).cast("bigint").as("frame_idx"),
        col("n_bytes"), col("width"), col("height"),
        col("mean_r"), col("mean_g"), col("mean_b"))
    },
    Some(s"""WITH p AS (SELECT doc_id, doc_id % 9 = 0 AS corrupt FROM documents),
            |f AS (SELECT doc_id, unnest(range(0, 4)) AS fi FROM p WHERE NOT corrupt),
            |good AS (
            |  SELECT doc_id, fi AS frame_idx,
            |         ${jpegFixture._3} AS n_bytes, 8 AS width, 8 AS height,
            |         round(CAST(128 + (doc_id + 7 * fi) % 32 + 32 AS DOUBLE), 6) AS m
            |  FROM f),
            |corrupt AS (
            |  SELECT doc_id, 0 AS frame_idx, 0 AS n_bytes,
            |         NULL AS width, NULL AS height, NULL AS m
            |  FROM p WHERE corrupt)
            |SELECT CAST(doc_id AS BIGINT) AS doc_id,
            |       CAST(frame_idx AS BIGINT) AS frame_idx,
            |       CAST(n_bytes AS BIGINT) AS n_bytes,
            |       CAST(width AS BIGINT) AS width,
            |       CAST(height AS BIGINT) AS height,
            |       m AS mean_r, m AS mean_g, m AS mean_b
            |FROM (SELECT * FROM good UNION ALL SELECT * FROM corrupt)""".stripMargin))

  /** REAL JPEG decode under the oracle gate ([[graft.functions
    * .JpegKernels]] — the round-8 baseline decoder that retires the
    * codec stub for stills): constructed single-MCU JPEGs are decoded
    * through the same [[Multimodal.raster]] dispatch as BMP/PPM/PGM,
    * and DuckDB predicts dimensions, byte counts, and the exact flat
    * means (128 + v, integers — no rounding-parity risk). The general
    * decode paths (AC coefficients, subsampling, restarts, DC chains)
    * are pinned against an independent reference IDCT in JpegSpec;
    * this query pins the Spark-side plumbing end to end. */
  private val qJpegFeatures = Q("q_jpeg_features",
    (s, dir) => {
      val media = constructedJpegBlob(t(s, dir, "documents"))
      rasterFeatures(Multimodal.featurize(media, "doc_id", "blob", dim = 5,
        decoder = Multimodal.raster))
    },
    Some(s"""WITH p AS (
            |  SELECT doc_id, 32 + doc_id % 32 AS v,
            |         doc_id % 7 = 0 AS trunc, doc_id % 2 = 0 AS gray,
            |         doc_id % 6 = 0 AS prog
            |  FROM documents)
            |SELECT CAST(doc_id AS BIGINT) AS media_id,
            |       CAST(CASE WHEN trunc THEN 20
            |                 WHEN prog THEN ${jpegProgFixture._3}
            |                 WHEN gray THEN ${jpegFixture._3}
            |                 ELSE ${jpegFixture._4} END AS BIGINT) AS n_bytes,
            |       CASE WHEN trunc THEN NULL ELSE CAST(8 AS BIGINT) END AS width,
            |       CASE WHEN trunc THEN NULL ELSE CAST(8 AS BIGINT) END AS height,
            |       CASE WHEN trunc THEN NULL
            |            ELSE round(CAST(128 + v AS DOUBLE), 6) END AS mean_r,
            |       CASE WHEN trunc THEN NULL
            |            ELSE round(CAST(128 + v AS DOUBLE), 6) END AS mean_g,
            |       CASE WHEN trunc THEN NULL
            |            ELSE round(CAST(128 + v AS DOUBLE), 6) END AS mean_b
            |FROM p""".stripMargin))

  // ---------------------------------------------------------------------
  // Composite / scale-pattern queries
  // ---------------------------------------------------------------------

  /** TPC-H-Q5-shaped star join: facts joined through the full dimension
    * chain with a region filter — the broadcast/reorder showcase. */
  private val qStarJoin = Q("q_star_join",
    (s, dir) => t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"),
        count(lit(1)).cast("bigint").as("n_lineitems")),
    Some("""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           |       CAST(count(*) AS BIGINT) AS n_lineitems
           |FROM lineitem
           |JOIN orders   ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           |JOIN nation   ON s_nationkey = n_nationkey
           |JOIN region   ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |GROUP BY n_name""".stripMargin))

  /** The fused single-pass form of the reference's podium-count complex
    * (SURVEY §2.5 A1-A4 + J12): one hash aggregate with conditional
    * counts instead of 4 filtered group-bys joined 5-way. */
  private val qAggFused = Q("q_agg_fused",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_suppkey").cast("bigint").as("skey"))
      .agg(count(when(col("l_linenumber") === 1, 1)).cast("bigint").as("n1"),
        count(when(col("l_linenumber") === 2, 1)).cast("bigint").as("n2"),
        count(when(col("l_linenumber") === 3, 1)).cast("bigint").as("n3"),
        count(when(!col("l_linenumber").isin(1, 2, 3), 1)).cast("bigint").as("n_other")),
    Some("""SELECT CAST(l_suppkey AS BIGINT) AS skey,
           |       CAST(count(CASE WHEN l_linenumber = 1 THEN 1 END) AS BIGINT) AS n1,
           |       CAST(count(CASE WHEN l_linenumber = 2 THEN 1 END) AS BIGINT) AS n2,
           |       CAST(count(CASE WHEN l_linenumber = 3 THEN 1 END) AS BIGINT) AS n3,
           |       CAST(count(CASE WHEN l_linenumber NOT IN (1,2,3) THEN 1 END) AS BIGINT) AS n_other
           |FROM lineitem GROUP BY 1""".stripMargin))

  /** Top-k per group (window + filter) — the LIMIT-per-partition pattern. */
  private val qTopkPerGroup = Q("q_topk_per_group",
    (s, dir) => t(s, dir, "orders")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .filter(col("rk") <= 3)
      .select(col("o_orderpriority").as("priority"),
        col("o_orderkey").cast("bigint").as("okey"),
        col("o_totalprice").as("total"),
        col("rk").cast("bigint").as("rk")),
    Some("""SELECT o_orderpriority AS priority, CAST(o_orderkey AS BIGINT) AS okey,
           |       o_totalprice AS total, CAST(rk AS BIGINT) AS rk
           |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
           |        ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders) x
           |WHERE rk <= 3""".stripMargin))

  /** PIVOT / crosstab (beyond the reference's flat group-bys): revenue
    * per order year × priority as columns. Spark's `pivot` with pinned
    * values = conditional aggregation, which is exactly how the oracle
    * spells it — so column names and null cells match hash-for-hash. */
  private val qPivot = Q("q_pivot",
    (s, dir) => {
      val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("bigint").as("oyear"))
        .pivot("o_orderpriority", priorities)
        .agg(round(sum("o_totalprice"), 4))
    },
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS oyear,
           |       round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 4) AS "1-URGENT",
           |       round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 4) AS "2-HIGH",
           |       round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 4) AS "3-MEDIUM",
           |       round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 4) AS "4-NOT SPECIFIED",
           |       round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 4) AS "5-LOW"
           |FROM orders GROUP BY 1""".stripMargin))

  private val qCountDistinct = Q("q_count_distinct",
    (s, dir) => t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).cast("bigint").as("oyear"))
      .agg(countDistinct(col("o_custkey")).cast("bigint").as("n_customers"),
        count(lit(1)).cast("bigint").as("n_orders")),
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS oyear,
           |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           |       CAST(count(*) AS BIGINT) AS n_orders
           |FROM orders GROUP BY 1""".stripMargin))

  /** Batch sessionization (gap > 30 min splits): lag + running sum of
    * session starts. */
  private val qSessionizeBatch = Q("q_sessionize_batch",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val gapUs = 30L * 60 * 1000000
      events(s, dir)
        .withColumn("__prev", lag(col("ts"), 1).over(byUser))
        .withColumn("__new_session",
          when(col("__prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("__prev")) > gapUs, 1)
            .otherwise(0))
        .withColumn("session_no",
          sum(col("__new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id").cast("bigint").as("user_id"),
          col("session_no").cast("bigint").as("session_no"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).cast("bigint").as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
    },
    Some("""WITH w AS (
           |  SELECT user_id, ts, event_id, value,
           |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |  FROM events),
           |flags AS (
           |  SELECT *, CASE WHEN prev IS NULL
           |                   OR epoch_us(ts) - epoch_us(prev) > 1800000000
           |                 THEN 1 ELSE 0 END AS new_session
           |  FROM w),
           |numbered AS (
           |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
           |           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
           |  FROM flags)
           |SELECT CAST(user_id AS BIGINT) AS user_id,
           |       CAST(session_no AS BIGINT) AS session_no,
           |       min(ts) AS session_start, max(ts) AS session_end,
           |       CAST(count(*) AS BIGINT) AS n_events,
           |       round(sum(value), 4) AS sum_value
           |FROM numbered GROUP BY 1, 2""".stripMargin))

  /** As-of join (beyond the reference — the canonical point-in-time
    * operator Spark lacks natively): every event picks up the value of
    * the user's most recent purchase at-or-before it. Oracle = DuckDB's
    * NATIVE `ASOF LEFT JOIN`, so the union-sentinel construction is
    * checked against an independent reference implementation. */
  private val qAsofJoin = Q("q_asof_join",
    (s, dir) => {
      val ev = events(s, dir).select(
        col("user_id").cast("bigint").as("user_id"),
        col("event_id").cast("bigint").as("event_id"),
        col("ts"), col("event_type"))
      val purchases = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id").cast("bigint").as("user_id"), col("ts"))
        .agg(round(max(col("value")), 4).as("last_purchase"))
      Ops.asofJoin(ev, purchases, Seq("user_id"), "ts", Seq("last_purchase"))
    },
    Some("""WITH r AS (
           |  SELECT CAST(user_id AS BIGINT) AS user_id, ts,
           |         round(max(value), 4) AS last_purchase
           |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
           |SELECT CAST(l.user_id AS BIGINT) AS user_id,
           |       CAST(l.event_id AS BIGINT) AS event_id,
           |       l.ts, l.event_type, r.last_purchase
           |FROM events l ASOF LEFT JOIN r
           |  ON CAST(l.user_id AS BIGINT) = r.user_id AND l.ts >= r.ts""".stripMargin))

  /** ROLLUP subtotals (beyond the reference's flat group-bys): per
    * (flag, status), per flag, and grand total in one pass. */
  private val qRollup = Q("q_rollup",
    (s, dir) => t(s, dir, "lineitem")
      .rollup(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        round(sum("l_quantity"), 4).as("sum_qty")),
    Some("""SELECT l_returnflag AS flag, l_linestatus AS status,
           |       CAST(count(*) AS BIGINT) AS n,
           |       round(sum(l_quantity), 4) AS sum_qty
           |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin))

  /** Semi/anti joins: customers partitioned by order existence. */
  private val qSemiAnti = Q("q_semi_anti",
    (s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey").cast("bigint").as("custkey"), col("c_name").as("cust_name"))
      val o = t(s, dir, "orders")
      val cond = col("custkey") === col("o_custkey")
      Ops.unionAppend(
        c.join(o, cond, "left_semi").withColumn("branch", lit("has_orders")),
        c.join(o, cond, "left_anti").withColumn("branch", lit("no_orders")))
    },
    Some("""SELECT CAST(c_custkey AS BIGINT) AS custkey, c_name AS cust_name,
           |       'has_orders' AS branch
           |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           |UNION ALL
           |SELECT CAST(c_custkey AS BIGINT), c_name, 'no_orders'
           |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin))

  /** INTERSECT / EXCEPT (distinct set semantics, beyond the reference's
    * single UNION ALL): customers active in both halves of the date
    * range vs. only the early half. */
  private val qSetOps = Q("q_set_ops",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val early = o.filter(year(col("o_orderdate")) < 1997)
        .select(col("o_custkey").cast("bigint").as("custkey"))
      val late = o.filter(year(col("o_orderdate")) >= 1997)
        .select(col("o_custkey").cast("bigint").as("custkey"))
      Ops.unionAppend(
        early.intersect(late).withColumn("branch", lit("both")),
        early.except(late).withColumn("branch", lit("early_only")))
    },
    Some("""WITH e AS (SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders
           |           WHERE year(o_orderdate) < 1997),
           |     l AS (SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders
           |           WHERE year(o_orderdate) >= 1997)
           |SELECT custkey, 'both' AS branch FROM (SELECT custkey FROM e INTERSECT SELECT custkey FROM l) x
           |UNION ALL
           |SELECT custkey, 'early_only' FROM (SELECT custkey FROM e EXCEPT SELECT custkey FROM l) y""".stripMargin))

  // ---------------------------------------------------------------------
  // Corpus ranking / decontamination / packing / splits (training tier)
  // ---------------------------------------------------------------------

  /** Okapi BM25 against a literal query — corpus statistics (N, avgdl,
    * per-term df) collapse to ONE single-row aggregate broadcast back to
    * the scoring scan; term frequencies are computed array-side, so the
    * tokenized corpus is never exploded or shuffled. */
  private val qBm25 = Q("q_bm25",
    (s, dir) => Ranking.bm25(t(s, dir, "documents"), "text", "doc_id",
      Seq("spark", "join", "window"))
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("dl"), col("tf_spark"), col("tf_join"), col("tf_window"),
        col("bm25")),
    Some("""WITH tk AS (
           |  SELECT doc_id,
           |         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
           |  FROM documents),
           |base AS (
           |  SELECT doc_id, len(t) AS dl,
           |         len(list_filter(t, x -> x = 'spark'))  AS tf_spark,
           |         len(list_filter(t, x -> x = 'join'))   AS tf_join,
           |         len(list_filter(t, x -> x = 'window')) AS tf_window
           |  FROM tk),
           |st AS (
           |  SELECT count(*) AS n, avg(dl) AS avgdl,
           |         sum(CASE WHEN tf_spark  > 0 THEN 1 ELSE 0 END) AS df_spark,
           |         sum(CASE WHEN tf_join   > 0 THEN 1 ELSE 0 END) AS df_join,
           |         sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
           |  FROM base)
           |SELECT CAST(b.doc_id AS BIGINT) AS doc_id, CAST(b.dl AS BIGINT) AS dl,
           |       CAST(tf_spark AS BIGINT) AS tf_spark,
           |       CAST(tf_join AS BIGINT) AS tf_join,
           |       CAST(tf_window AS BIGINT) AS tf_window,
           |       round(ln((n - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
           |               * (tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75 * b.dl / avgdl))
           |           + ln((n - df_join + 0.5) / (df_join + 0.5) + 1.0)
           |               * (tf_join * 2.2) / (tf_join + 1.2 * (0.25 + 0.75 * b.dl / avgdl))
           |           + ln((n - df_window + 0.5) / (df_window + 0.5) + 1.0)
           |               * (tf_window * 2.2) / (tf_window + 1.2 * (0.25 + 0.75 * b.dl / avgdl)),
           |         6) AS bm25
           |FROM base b, st
           |WHERE tf_spark + tf_join + tf_window > 0""".stripMargin))

  /** Benchmark decontamination: training docs (doc_id % 97 != 0) sharing
    * >= 2 distinct word trigrams with the benchmark slice (doc_id % 97 =
    * 0). The benchmark n-gram set broadcasts; the training side never
    * shuffles its text. (Real corpora use longer n-grams; with this
    * synthetic ~40-word vocabulary, trigrams are the collision-bearing
    * analog — n = 5 matches nothing at any SF, a vacuous gate.) */
  private val qDecontaminate = Q("q_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.overlap(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "text", "doc_id", n = 3, minShared = 2)
        .select(col("doc_id").cast("bigint").as("doc_id"), col("n_shared"))
    },
    Some("""WITH tk AS (
           |  SELECT doc_id,
           |         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
           |  FROM documents),
           |g AS (
           |  SELECT doc_id,
           |         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
           |                               for i in range(1, len(t) - 1)])) AS gram
           |  FROM tk WHERE len(t) >= 3),
           |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
           |SELECT CAST(g.doc_id AS BIGINT) AS doc_id,
           |       CAST(count(*) AS BIGINT) AS n_shared
           |FROM g JOIN bg USING (gram)
           |WHERE g.doc_id % 97 <> 0
           |GROUP BY g.doc_id
           |HAVING count(*) >= 2""".stripMargin))

  /** Per-language top-5 word trigrams by document frequency — corpus
    * n-gram statistics (boilerplate/repetition mining) through the same
    * bounded `collect_smallest` top-k the ANN tier uses: the per-language
    * exchange carries at most 5 rows per map task, never the full
    * (lang, gram) count table. */
  private val qTopNgrams = Q("q_top_ngrams",
    (s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("lang"), explode(Kernels.wordNgrams(col("text"), 3)).as("gram"))
        .groupBy(col("lang"), col("gram"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val item = struct((lit(0L) - col("n_docs")).as("negn"),
        col("gram").as("g"), col("n_docs").as("n"))
      counts.groupBy(col("lang"))
        .agg(Dedup.collectSmallest(item, 5).as("__top"))
        .select(col("lang"), posexplode(col("__top")).as(Seq("__r", "__m")))
        .select(col("lang"), (col("__r") + 1).cast("bigint").as("rank"),
          col("__m").getField("g").as("gram"),
          col("__m").getField("n").as("n_docs"))
    },
    Some("""WITH tk AS (
           |  SELECT doc_id, lang,
           |         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
           |  FROM documents),
           |g AS (
           |  SELECT doc_id, lang,
           |         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
           |                               for i in range(1, len(t) - 1)])) AS gram
           |  FROM tk WHERE len(t) >= 3),
           |c AS (SELECT lang, gram, count(*) AS n_docs FROM g GROUP BY 1, 2),
           |r AS (SELECT lang, gram, n_docs,
           |             row_number() OVER (PARTITION BY lang
           |                                ORDER BY n_docs DESC, gram ASC) AS rank
           |      FROM c)
           |SELECT lang, CAST(rank AS BIGINT) AS rank, gram,
           |       CAST(n_docs AS BIGINT) AS n_docs
           |FROM r WHERE rank <= 5""".stripMargin))

  /** Gopher-style repetition diagnostics — pure array-side higher-order
    * functions, zero shuffle, one codegen pass over the corpus. */
  private val qRepetition = Q("q_repetition",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id").cast("bigint").as("doc_id"),
        TF.repetitionStats(col("text")).as("__st"))
      .select(col("doc_id"),
        col("__st").getField("n_tokens").as("n_tokens"),
        col("__st").getField("distinct_ratio").as("distinct_ratio"),
        col("__st").getField("top_token_frac").as("top_token_frac"))
      .filter(col("n_tokens") > 0),
    Some("""WITH tk AS (
           |  SELECT doc_id,
           |         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
           |  FROM documents),
           |b AS (SELECT doc_id, t, list_distinct(t) AS u, len(t) AS n FROM tk)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n AS BIGINT) AS n_tokens,
           |       round(CAST(len(u) AS DOUBLE) / n, 6) AS distinct_ratio,
           |       round(CAST(list_max(list_transform(u,
           |                 x -> len(list_filter(t, y -> y = x)))) AS DOUBLE) / n,
           |             6) AS top_token_frac
           |FROM b WHERE n > 0""".stripMargin))

  /** Interval join via fixed-width binning ([[Ops.binnedRangeJoin]]):
    * lineitem prices against overlapping price bands — the equi-join-on-
    * bin formulation of a BETWEEN join (a naive theta-join plans as a
    * broadcast nested loop probing every range per row). min/max (not
    * sum/avg) keep the double aggregates order-independent for the
    * hash compare. */
  private val qRangeJoin = Q("q_range_join",
    (s, dir) => {
      val bands = s.range(0, 44).select(col("id").as("band_id"),
        (col("id") * 2500.0 - 500.0).as("lo"),
        (col("id") * 2500.0 + 2000.0).as("hi"))
      Ops.binnedRangeJoin(
        t(s, dir, "lineitem").select(col("l_extendedprice").as("price")),
        bands, "price", "lo", "hi", binWidth = 2500.0)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).cast("long").as("n"),
          round(min(col("price")), 2).as("min_price"),
          round(max(col("price")), 2).as("max_price"))
    },
    Some("""WITH bands AS (
           |  SELECT i AS band_id, i * 2500.0 - 500.0 AS lo, i * 2500.0 + 2000.0 AS hi
           |  FROM range(0, 44) r(i))
           |SELECT CAST(band_id AS BIGINT) AS band_id,
           |       CAST(count(*) AS BIGINT) AS n,
           |       round(min(l_extendedprice), 2) AS min_price,
           |       round(max(l_extendedprice), 2) AS max_price
           |FROM lineitem JOIN bands ON l_extendedprice BETWEEN lo AND hi
           |GROUP BY band_id""".stripMargin))

  /** Sequence packing: token chunks greedily packed into 512-token bins
    * per language ([[graft.operators.Packing]]), rolled up per bin. The
    * oracle rebuilds the identical chunk stream (the q_chunk_text CTE)
    * and packs it with a window cumsum. */
  private val qPackChunks = Q("q_pack_chunks",
    (s, dir) => {
      val chunks = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          posexplode(Kernels.chunkText(col("text"), 50, 5))
            .as(Seq("chunk_no", "chunk")))
        .withColumn("n_tok", TF.tokenCount(col("chunk")))
      val packed = Packing.packChunks(chunks, Seq("lang"),
        Seq(col("doc_id"), col("chunk_no")), "n_tok", budget = 512)
      Packing.binStats(packed, Seq("lang"), "n_tok")
        .select(col("lang"), col("bin").cast("bigint").as("bin"),
          col("n_chunks"), col("n_tokens"))
    },
    Some("""WITH t AS (
           |  SELECT doc_id, lang,
           |         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS toks
           |  FROM documents),
           |ch AS (
           |  SELECT doc_id, lang, u.x.chunk_no AS chunk_no,
           |         len(string_split_regex(u.x.chunk, '[ \t\n\x0B\f\r]+')) AS n_tok
           |  FROM (SELECT doc_id, lang,
           |               unnest([{'chunk_no': s // 45,
           |                        'chunk': array_to_string(list_slice(toks, s + 1, least(s + 50, len(toks))), ' ')}
           |                       for s in range(0, len(toks), 45)]) AS x
           |        FROM t) u),
           |p AS (
           |  SELECT lang,
           |         floor((sum(n_tok) OVER (PARTITION BY lang
           |                                 ORDER BY doc_id, chunk_no
           |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |                - n_tok) / 512) AS bin,
           |         n_tok
           |  FROM ch)
           |SELECT lang, CAST(bin AS BIGINT) AS bin,
           |       CAST(count(*) AS BIGINT) AS n_chunks,
           |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
           |FROM p GROUP BY 1, 2""".stripMargin))

  /** Deterministic stratified train/val/test assignment (8/1/1 round-
    * robin per language in doc_id order — exact proportions per stratum),
    * rolled up per (lang, split). */
  private val qSplitAssign = Q("q_split_assign",
    (s, dir) => Ops.stratifiedSplit(t(s, dir, "documents"), Seq("lang"),
      Seq(col("doc_id")), Seq(("train", 8), ("val", 1), ("test", 1)))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).cast("long").as("n"),
        min(col("doc_id")).cast("long").as("min_id"),
        max(col("doc_id")).cast("long").as("max_id")),
    Some("""WITH r AS (
           |  SELECT lang, doc_id,
           |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1 AS rn
           |  FROM documents),
           |a AS (
           |  SELECT lang, doc_id,
           |         CASE WHEN rn % 10 < 8 THEN 'train'
           |              WHEN rn % 10 = 8 THEN 'val'
           |              ELSE 'test' END AS split
           |  FROM r)
           |SELECT lang, split, CAST(count(*) AS BIGINT) AS n,
           |       CAST(min(doc_id) AS BIGINT) AS min_id,
           |       CAST(max(doc_id) AS BIGINT) AS max_id
           |FROM a GROUP BY 1, 2""".stripMargin))

  /** Seeded epoch reshuffle: the whole documents table permuted by
    * md5(doc_id ":" seed), contiguous 1-based position, round-robin
    * 8-shard deal. md5 is bit-identical in Spark and DuckDB, so the
    * full permutation — not just its shape — sits under the oracle. */
  private val qTrainingOrder = Q("q_training_order",
    (s, dir) => Ops.trainingOrder(
      t(s, dir, "documents").select(col("doc_id").cast("bigint").as("doc_id")),
      "doc_id", "epoch-0", shards = 8)
      .select(col("doc_id"), col("pos"), col("shard")),
    Some("""WITH o AS (
           |  SELECT doc_id,
           |         CAST(row_number() OVER (
           |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':epoch-0'),
           |                    doc_id) AS BIGINT) AS pos
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, pos,
           |       CAST((pos - 1) % 8 AS BIGINT) AS shard
           |FROM o""".stripMargin))

  /** Blocklist screen: one Aho–Corasick pass flags every document
    * containing any of the listed terms. The list deliberately nests
    * patterns inside each other and inside vocabulary words ("art" in
    * "part", "park" in "spark", "at"/"ch" mid-"batch") — the oracle's
    * per-term `contains` recomputation only agrees if the DFA's
    * dictionary-suffix outputs are right. */
  private val qBlocklist = Q("q_blocklist",
    (s, dir) => {
      val terms = Seq("batch", "at", "ch", "able", "can",
        "part", "art", "spark", "park")
      t(s, dir, "documents").select(
        col("doc_id").cast("bigint").as("doc_id"),
        TF.multiMatch(lower(col("text")), terms).as("__hits"))
        .select(col("doc_id"),
          array_join(col("__hits"), ",").as("hits"),
          size(col("__hits")).cast("int").as("n_hits"))
        .filter(col("n_hits") > 0)
    },
    Some("""WITH m AS (
           |  SELECT doc_id,
           |         [t for t in ['batch','at','ch','able','can','part','art','spark','park']
           |            if contains(lower(text), t)] AS hits
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       array_to_string(hits, ',') AS hits,
           |       CAST(len(hits) AS INTEGER) AS n_hits
           |FROM m WHERE len(hits) > 0""".stripMargin))

  /** The SEMI side of the interval join — orders whose total falls in at
    * least one (overlapping) band, exactly once each regardless of how
    * many bands match. Exercises [[Ops.binnedRangeJoin]]'s left_semi
    * path (inner binned join → distinct point rows → null-safe
    * semi-join back) under the oracle gate; DuckDB expresses the same
    * thing as EXISTS.
    */
  private val qRangeJoinSemi = Q("q_range_join_semi",
    (s, dir) => {
      val bands = s.range(0, 30).select(col("id").as("band_id"),
        (col("id") * 9000.0).as("lo"),
        (col("id") * 9000.0 + 14000.0).as("hi"))
      Ops.binnedRangeJoin(
        t(s, dir, "orders").select(col("o_orderkey").as("okey"),
          col("o_totalprice").as("total")),
        bands, "total", "lo", "hi", binWidth = 9000.0, joinType = "left_semi")
        .select(col("okey").cast("bigint").as("okey"),
          round(col("total"), 2).as("total"))
    },
    Some("""WITH bands AS (
           |  SELECT i * 9000.0 AS lo, i * 9000.0 + 14000.0 AS hi
           |  FROM range(0, 30) r(i))
           |SELECT CAST(o_orderkey AS BIGINT) AS okey,
           |       round(o_totalprice, 2) AS total
           |FROM orders
           |WHERE EXISTS (SELECT 1 FROM bands
           |              WHERE o_totalprice BETWEEN lo AND hi)""".stripMargin))

  /** Corpus-level line dedup ([[Dedup.lineDedup]]) — the synthetic docs
    * are single-line, so lines are derived deterministically as 4-token
    * chunk rows (430 genuinely duplicated lines at sf0.01, scaling with
    * SF). The winner-per-line is a partial-aggregating `min(struct)` by
    * line — no window over the corpus — and the rebuilt text is
    * hash-compared, so drop AND reassembly order are both pinned.
    */
  private val qLineDedup = Q("q_line_dedup",
    (s, dir) => Dedup.lineDedup(
      t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          concat_ws("\n", Kernels.chunkText(col("text"), 4, 0)).as("text")),
      // minChars = 0: NOTHING is exempt, matching the oracle's
      // unconditional row_number dedup — with the default (1), an empty
      // derived line (token count ≡ 1 mod 4 ending in a tab) would be
      // exempt on the Spark side only
      "text", "doc_id", minChars = 0)
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("text"), col("n_kept"), col("n_dropped")),
    Some("""WITH tk AS (
           |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
           |  FROM documents WHERE len(trim(text)) > 0),
           |ch AS (
           |  SELECT doc_id,
           |         [{'pos': i, 'line': array_to_string(t[(i*4+1):(i*4+4)], ' ')}
           |          for i in range(0, CAST(ceil(len(t)/4.0) AS INT))] AS cl
           |  FROM tk),
           |ln AS (SELECT doc_id, unnest(cl, recursive := true) FROM ch),
           |win AS (SELECT doc_id, pos, line,
           |               row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
           |        FROM ln),
           |kept AS (SELECT doc_id, pos, line FROM win WHERE rn = 1),
           |tot AS (SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY 1)
           |SELECT CAST(k.doc_id AS BIGINT) AS doc_id,
           |       string_agg(k.line, chr(10) ORDER BY k.pos) AS text,
           |       CAST(count(*) AS BIGINT) AS n_kept,
           |       CAST(max(t.n_lines) - count(*) AS BIGINT) AS n_dropped
           |FROM kept k JOIN tot t ON k.doc_id = t.doc_id
           |GROUP BY k.doc_id""".stripMargin))

  /** PII redaction ([[TF.redact]]): the synthetic corpus carries no PII,
    * so contact strings are derived deterministically per doc_id (both
    * sides derive identically — `||` propagates NULL like Spark concat)
    * and the REDACTED TEXT ITSELF is hash-compared, not just counts.
    * The phone rule is deliberately literal-anchored so Java and RE2
    * regex semantics cannot diverge on greedy-class boundaries.
    */
  private val qPiiRedact = Q("q_pii_redact",
    (s, dir) => {
      val noisy = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" reach user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit(" call +1 555-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))
      val phonePattern = "\\+1 555-[0-9]{4}"
      noisy.select(col("doc_id").cast("bigint").as("doc_id"),
        TF.redact(col("text"), Seq(
          TF.EmailPattern -> "<EMAIL>", phonePattern -> "<PHONE>")).as("clean"),
        TF.matchCount(col("text"), TF.EmailPattern).as("n_emails"),
        TF.matchCount(col("text"), phonePattern).as("n_phones"))
    },
    Some("""WITH noisy AS (
           |  SELECT doc_id,
           |         text
           |         || CASE WHEN doc_id % 3 = 0
           |                 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
           |                 ELSE '' END
           |         || CASE WHEN doc_id % 4 = 0
           |                 THEN ' call +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |                 ELSE '' END AS text
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       regexp_replace(
           |         regexp_replace(text,
           |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |         '\+1 555-[0-9]{4}', '<PHONE>', 'g') AS clean,
           |       CAST(len(regexp_extract_all(text,
           |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           |       CAST(len(regexp_extract_all(text,
           |         '\+1 555-[0-9]{4}')) AS BIGINT) AS n_phones
           |FROM noisy""".stripMargin))

  /** CUBE with grouping markers — all four grouping-set combinations in
    * one pass (Spark expands to a single Expand + hash aggregate, no
    * repeated scans), the remaining member of the rollup/pivot family.
    */
  private val qCube = Q("q_cube",
    (s, dir) => t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      // grouping() only resolves INSIDE the cube aggregate
      .agg(grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
        grouping(col("l_linestatus")).cast("bigint").as("g_status"),
        count(lit(1)).cast("bigint").as("n"),
        round(sum("l_quantity"), 4).as("sum_qty"))
      .select(col("l_returnflag").as("flag"), col("l_linestatus").as("status"),
        col("g_flag"), col("g_status"), col("n"), col("sum_qty")),
    Some("""SELECT l_returnflag AS flag, l_linestatus AS status,
           |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           |       CAST(count(*) AS BIGINT) AS n,
           |       round(sum(l_quantity), 4) AS sum_qty
           |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin))

  /** Textbook TF-IDF with the same no-explode/broadcast-stats shape as
    * [[qBm25]] — raw tf × ln(N / (df + 1)). */
  private val qTfidf = Q("q_tfidf",
    (s, dir) => Ranking.tfIdf(t(s, dir, "documents"), "text", "doc_id",
      Seq("spark", "window"))
      .select(col("doc_id").cast("bigint").as("doc_id"), col("tfidf")),
    Some("""WITH tk AS (
           |  SELECT doc_id,
           |         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
           |  FROM documents),
           |base AS (
           |  SELECT doc_id,
           |         len(list_filter(t, x -> x = 'spark'))  AS tf_spark,
           |         len(list_filter(t, x -> x = 'window')) AS tf_window
           |  FROM tk),
           |st AS (
           |  SELECT count(*) AS n,
           |         sum(CASE WHEN tf_spark  > 0 THEN 1 ELSE 0 END) AS df_spark,
           |         sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
           |  FROM base)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       round(tf_spark * ln(CAST(n AS DOUBLE) / (df_spark + 1.0))
           |           + tf_window * ln(CAST(n AS DOUBLE) / (df_window + 1.0)),
           |         6) AS tfidf
           |FROM base, st
           |WHERE tf_spark + tf_window > 0""".stripMargin))

  /** Mixture shaping ([[Ops.sampleToTokenBudget]]): take documents per
    * language in doc_id order until each language hits a 2000-token
    * budget. NULL-text docs weigh 0 on both sides; NULL-lang docs drop
    * out of the budget join on both sides (equi-join vs explicit
    * filter). The kept SET is hash-compared, pinning the exact boundary
    * document per group.
    */
  private val qTokenBudget = Q("q_token_budget",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok",
          when(col("text").isNull, 0L).otherwise(TF.tokenCount(col("text"))))
      val budgets = docs.select(col("lang")).where(col("lang").isNotNull)
        .distinct().withColumn("token_budget", lit(2000L))
      Ops.sampleToTokenBudget(docs, Seq("lang"), "n_tok", budgets,
        Seq(col("doc_id")))
        .select(col("doc_id").cast("bigint").as("doc_id"), col("lang"),
          col("n_tok").cast("bigint").as("n_tok"))
    },
    Some("""WITH tk AS (
           |  SELECT doc_id, lang,
           |         CASE WHEN text IS NULL THEN 0
           |              WHEN len(trim(text)) = 0 THEN 0
           |              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'))
           |         END AS n_tok
           |  FROM documents WHERE lang IS NOT NULL),
           |c AS (
           |  SELECT doc_id, lang, n_tok,
           |         sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
           |  FROM tk)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           |       CAST(n_tok AS BIGINT) AS n_tok
           |FROM c WHERE cum <= 2000""".stripMargin))

  /** The Gopher-style quality GATE composed end-to-end under one oracle:
    * per-document repetition diagnostics feed a keep/drop predicate
    * (token range, distinct-token floor, top-token-share ceiling), and
    * per-language survival statistics come out — count in, count kept,
    * mean kept length. One kernel pass + one partial-aggregating
    * group-by; thresholds chosen so both branches are populated at
    * every SF (token p10-p90 spans the gate). NULL text: NULL ratios →
    * keep is NULL → counted in n_docs, never in n_kept, on both sides.
    */
  private val qQualityGate = Q("q_quality_gate",
    (s, dir) => {
      val rep = TF.repetitionStats(col("text"))
      val base = t(s, dir, "documents").select(col("lang"),
        rep.getField("n_tokens").as("n_tok"),
        rep.getField("distinct_ratio").as("dr"),
        rep.getField("top_token_frac").as("tf"))
      val keep = col("n_tok").between(20, 80) &&
        col("dr") >= 0.4 && col("tf") <= 0.12
      base.groupBy(col("lang")).agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(keep, 1L).otherwise(0L)).cast("bigint").as("n_kept"),
        round(avg(when(keep, col("n_tok"))), 4).as("avg_kept_tokens"))
    },
    Some("""WITH tk AS (
           |  SELECT doc_id, lang,
           |         CASE WHEN text IS NULL THEN NULL
           |              WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')
           |         END AS t
           |  FROM documents),
           |m AS (
           |  SELECT lang, len(t) AS n_tok,
           |         CASE WHEN len(t) > 0 THEN
           |           round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) END AS dr,
           |         CASE WHEN len(t) > 0 THEN
           |           round(CAST(list_max(list_transform(list_distinct(t),
           |                   x -> len(list_filter(t, y -> y = x)))) AS DOUBLE)
           |                 / len(t), 6) END AS tf
           |  FROM tk),
           |g AS (
           |  SELECT lang, n_tok,
           |         (n_tok BETWEEN 20 AND 80) AND dr >= 0.4 AND tf <= 0.12 AS keep
           |  FROM m)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |       round(avg(CASE WHEN keep THEN n_tok END), 4) AS avg_kept_tokens
           |FROM g GROUP BY 1""".stripMargin))

  /** Media triage under the oracle gate: PNG blobs are CONSTRUCTED
    * in-plan (magic + IHDR with dimensions derived from doc_id), parsed
    * back by the [[Kernels.imageMeta]] kernel, and the oracle
    * recomputes the planted dimensions arithmetically — so the binary
    * round-trip (build → parse) is hash-verified, not just spec'd.
    * Every 7th blob is truncated mid-header and must come back NULL.
    */
  private val qImageMeta = Q("q_image_meta",
    (s, dir) => {
      def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
      val w = (lit(100) + pmod(col("doc_id"), lit(900))).cast("int")
      val h = (lit(50) + pmod(col("doc_id"), lit(500))).cast("int")
      val blobFull = concat(
        lit(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)),
        be32(lit(13)), lit("IHDR".getBytes), be32(w), be32(h))
      // SVG lane (r17): every 5th doc carries XML with per-doc
      // width/height attributes — the vector-format side of the triage
      val svgBlob = encode(concat(
        lit("<?xml version=\"1.0\"?><svg xmlns=\"x\" width=\""),
        w.cast("string"), lit("px\" height=\""), h.cast("string"),
        lit("\"><rect/></svg>")), "UTF-8")
      val blob = when(pmod(col("doc_id"), lit(7)) === 0,
        substring(blobFull, 1, 12))
        .when(pmod(col("doc_id"), lit(5)) === 0, svgBlob)
        .otherwise(blobFull)
      val m = Kernels.imageMeta(blob)
      t(s, dir, "documents").select(col("doc_id").cast("bigint").as("doc_id"),
        m.getField("format").as("format"),
        m.getField("width").cast("bigint").as("width"),
        m.getField("height").cast("bigint").as("height"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CASE WHEN doc_id % 7 = 0 THEN NULL
           |            WHEN doc_id % 5 = 0 THEN 'svg'
           |            ELSE 'png' END AS format,
           |       CASE WHEN doc_id % 7 = 0 THEN NULL
           |            ELSE CAST(100 + doc_id % 900 AS BIGINT) END AS width,
           |       CASE WHEN doc_id % 7 = 0 THEN NULL
           |            ELSE CAST(50 + doc_id % 500 AS BIGINT) END AS height
           |FROM documents""".stripMargin))

  /** Audio triage under the oracle (r13): [[Kernels.audioMeta]] over
    * in-plan WAV and FLAC streams — the codec-free pre-decode pass that
    * routes/filters blobs BEFORE any decode is scheduled. doc_id%4
    * picks the container (0 = FLAC with a varying declared
    * total-samples, 1 = PCM WAV with a varying real payload, 2 = MP3
    * whose k Layer III frames must tile the blob exactly, 3 = junk
    * text → NULL); every 7th doc truncates to 10 bytes → NULL. The
    * FLAC member has NO frames at all — triage reads STREAMINFO only,
    * exactly the split from the decode tier (which refuses that same
    * blob); the WAV member's n_frames comes from the REAL payload
    * length, clamped like a truncated crawl blob would be.
    */
  private val qAudioMeta = Q("q_audio_meta",
    (s, dir) => {
      val id = col("doc_id")
      // FLAC: fLaC + last-block STREAMINFO(34) header; constants below
      // are the packed (rate 8000, mono, 16-bit) STREAMINFO prefix and
      // a zero MD5; only total-samples' low 16 bits vary per doc
      val total = (pmod(id, lit(300)) + 1).cast("int")
      val flacHex = concat(
        lit("664C6143" + "80000022" + "00C0" + "00C0" + "000000" + "000000" +
          "01" + "F4" + "00" + "F0" + "00" + "00"),
        h2(shiftright(total, 8)), h2(total.bitwiseAND(lit(0xff))),
        lit("0" * 32))
      // WAV: RIFF/WAVE + 16-byte PCM fmt (stereo, 16 kHz, 16-bit,
      // blockAlign 4) + data chunk with a REAL n*4-byte payload
      val n = (pmod(id, lit(50)) + 1).cast("int")
      val wavHex = concat(
        lit("52494646" + "00000000" + "57415645" +
          "666D7420" + "10000000" + "0100" + "0200" + "803E0000" +
          "00FA0000" + "0400" + "1000" + "64617461"),
        h2((n * 4).bitwiseAND(lit(0xff))), h2(shiftright(n * 4, 8)),
        lit("0000"),
        array_join(array_repeat(lit("00000000"), n), ""))
      // MP3: MPEG1 Layer III 128 kbps 44.1 kHz mono CBR — header
      // FF FB 90 C0 + 413 zero payload bytes per 417-byte frame; the
      // triage walk requires the k frames to tile the blob exactly
      val k = (pmod(id, lit(8)) + 1).cast("int")
      val mp3Hex = array_join(
        array_repeat(concat(lit("FFFB90C0"), lit("00" * 413)), k), "")
      val junkHex = lit("6E6F7420617564696F20617420616C6C2E2E2E2E") // "not audio at all...."
      val fullHex = when(pmod(id, lit(4)) === 0, flacHex)
        .when(pmod(id, lit(4)) === 1, wavHex)
        .when(pmod(id, lit(4)) === 2, mp3Hex)
        .otherwise(junkHex)
      val m = Kernels.audioMeta(col("blob"))
      truncatedBlob(t(s, dir, "documents").select(id, fullHex.as("hex")), 20)
        .select(id.cast("bigint").as("doc_id"),
          m.getField("format").as("format"),
          m.getField("channels").cast("bigint").as("channels"),
          m.getField("sample_rate").cast("bigint").as("sample_rate"),
          m.getField("bits_per_sample").cast("bigint").as("bits_per_sample"),
          m.getField("n_frames").cast("bigint").as("n_frames"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id, doc_id % 4 AS c, doc_id % 7 = 0 AS trunc
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CASE WHEN trunc OR c = 3 THEN NULL
           |            WHEN c = 0 THEN 'flac' WHEN c = 1 THEN 'wav'
           |            ELSE 'mp3' END AS format,
           |       CASE WHEN trunc OR c = 3 THEN NULL
           |            WHEN c = 0 THEN 1 WHEN c = 1 THEN 2
           |            ELSE 1 END AS channels,
           |       CASE WHEN trunc OR c = 3 THEN NULL
           |            WHEN c = 0 THEN 8000 WHEN c = 1 THEN 16000
           |            ELSE 44100 END AS sample_rate,
           |       CASE WHEN trunc OR c = 3 THEN NULL
           |            WHEN c = 2 THEN 0 ELSE 16 END AS bits_per_sample,
           |       CASE WHEN trunc OR c = 3 THEN NULL
           |            WHEN c = 0 THEN CAST(doc_id % 300 + 1 AS BIGINT)
           |            WHEN c = 1 THEN CAST(doc_id % 50 + 1 AS BIGINT)
           |            ELSE CAST((doc_id % 8 + 1) * 1152 AS BIGINT) END AS n_frames
           |FROM p""".stripMargin))

  /** Mixture reweighting over the `source` column: per-source corpus
    * shares (by characters) and the downsampling rates that hit a
    * declared target mixture — src0 capped at 1% and src1 at 2% of the
    * corpus (both below their ~5% actual share, so the rates bite);
    * unlisted sources pass through at rate 1.0. The rate table is what
    * [[graft.operators.Ops.deterministicSample]] consumes per group —
    * the mixture-shaping step run before any token-budget sampling.
    */
  private val qMixtureWeights = Q("q_mixture_weights",
    (s, dir) => Ops.mixtureWeights(t(s, dir, "documents"), "source",
        col("n_chars"), Map("src0" -> 0.01, "src1" -> 0.02))
      .select(col("source"), col("n_rows").cast("bigint").as("n_rows"),
        col("units"), col("share"), col("rate")),
    Some("""WITH s AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
           |         CAST(sum(n_chars) AS DOUBLE) AS units
           |  FROM documents GROUP BY 1
           |), t AS (SELECT sum(units) AS total FROM s)
           |SELECT source, n_rows, units,
           |       round(units / total, 6) AS share,
           |       CASE WHEN source = 'src0'
           |              THEN round(least(1.0, 0.01 * total / units), 6)
           |            WHEN source = 'src1'
           |              THEN round(least(1.0, 0.02 * total / units), 6)
           |            ELSE 1.0 END AS rate
           |FROM s, t""".stripMargin))

  /** Nearest-centroid classification over the labeled embeddings — the
    * embedding-quality eval (label separability / cluster purity) as a
    * confusion matrix, hash-checked against DuckDB recomputing the
    * same per-label mean vectors and rounded-cosine argmax.
    */
  private val qLabelConfusion = Q("q_label_confusion",
    (s, dir) => Similarity.nearestCentroidConfusion(
        t(s, dir, "embeddings"), "embedding", "label", "vec_id")
      .select(col("label").cast("bigint").as("label"),
        col("predicted").cast("bigint").as("predicted"),
        col("n").cast("bigint").as("n")),
    Some("""WITH u AS (
           |  SELECT vec_id, label,
           |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings WHERE embedding IS NOT NULL
           |), n AS (
           |  SELECT vec_id, label,
           |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS v
           |  FROM u
           |), e AS (
           |  SELECT label,
           |         unnest(list_transform(v, (x, i) -> struct_pack(pos := i, x := x))) AS t
           |  FROM n
           |), c AS (
           |  SELECT label AS clbl, t.pos AS pos, avg(t.x) AS a FROM e GROUP BY 1, 2
           |), cl AS (
           |  SELECT clbl, list(a ORDER BY pos) AS cv FROM c GROUP BY 1
           |), sc AS (
           |  SELECT n.vec_id, n.label, cl.clbl,
           |         round(list_cosine_similarity(n.v, cl.cv), 6) AS s
           |  FROM n CROSS JOIN cl
           |), b AS (
           |  SELECT vec_id, label, clbl,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, clbl) AS rn
           |  FROM sc
           |)
           |SELECT CAST(label AS BIGINT) AS label, CAST(clbl AS BIGINT) AS predicted,
           |       CAST(count(*) AS BIGINT) AS n
           |FROM b WHERE rn = 1 GROUP BY 1, 2""".stripMargin))

  /** Semantic decontamination: every corpus vector scored by max cosine
    * against a broadcast benchmark embedding set (vec_id < 32 stands in
    * for the eval set), flagged at 0.4 — the threshold reachable on
    * these near-uniform synthetic embeddings (cf. q_embedding_neardup).
    * Exact, not approximate, so fully oracle-checked.
    */
  private val qDecontaminateEmbed = Q("q_decontaminate_embed",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Decontaminate.byEmbedding(
          emb.filter(col("vec_id") >= 32), emb.filter(col("vec_id") < 32),
          "embedding", "vec_id", threshold = 0.4)
        .select(col("id").cast("bigint").as("id"),
          col("max_cosine"), col("contaminated"))
    },
    Some("""WITH n AS (
           |  SELECT vec_id,
           |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings WHERE embedding IS NOT NULL
           |), c AS (SELECT vec_id, v FROM n WHERE vec_id >= 32),
           |   b AS (SELECT v FROM n WHERE vec_id < 32)
           |SELECT CAST(c.vec_id AS BIGINT) AS id,
           |       max(round(list_cosine_similarity(c.v, b.v), 6)) AS max_cosine,
           |       max(round(list_cosine_similarity(c.v, b.v), 6)) >= 0.4 AS contaminated
           |FROM c CROSS JOIN b
           |GROUP BY 1""".stripMargin))

  // ---------------------------------------------------------------------
  // Span-level dedup, hybrid retrieval, sketch calibration (round 6)
  // ---------------------------------------------------------------------

  /** Cross-document duplicated-SPAN coverage — the span-level dedup
    * signal (see [[Dedup.spanDuplication]]): per document, its distinct
    * word 4-gram count, how many of those grams occur in >= 2 documents,
    * and the coverage fraction. n = 4 measured 11.6% duplicated grams
    * at sf0.01 (n = 3 saturates at 64% on this ~40-word synthetic
    * vocabulary, n = 5 decays to 9%) — non-vacuous, non-saturated.
    */
  private val qDupSpans = Q("q_dup_spans",
    (s, dir) => Dedup.spanDuplication(t(s, dir, "documents"),
        "text", "doc_id", n = 4, minDocs = 2)
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("n_grams"), col("n_dup_grams"), col("dup_frac")),
    Some("""WITH tk AS (
           |  SELECT doc_id,
           |         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
           |  FROM documents),
           |g AS (
           |  SELECT doc_id,
           |         unnest(list_distinct([array_to_string(t[i:i+3], ' ')
           |                               for i in range(1, len(t) - 2)])) AS gram
           |  FROM tk WHERE len(t) >= 4),
           |d AS (SELECT gram, count(*) AS dfreq FROM g GROUP BY 1)
           |SELECT CAST(g.doc_id AS BIGINT) AS doc_id,
           |       CAST(count(*) AS BIGINT) AS n_grams,
           |       CAST(count(CASE WHEN d.dfreq >= 2 THEN 1 END) AS BIGINT) AS n_dup_grams,
           |       round(CAST(count(CASE WHEN d.dfreq >= 2 THEN 1 END) AS DOUBLE)
           |             / count(*), 6) AS dup_frac
           |FROM g JOIN d USING (gram)
           |GROUP BY g.doc_id""".stripMargin))

  /** The salted-join variant of [[qDupSpans]] under the same oracle —
    * `saltBuckets = 8` is the explicit skew mitigation for boilerplate
    * grams (AQE's skew split structurally can't fire on this plan
    * shape; see [[Dedup.spanDuplication]] and SCALING.md). Salting is
    * result-invariant, so the driver hash-checks that invariance every
    * round.
    */
  private val qDupSpansSalted = Q("q_dup_spans_salted",
    (s, dir) => Dedup.spanDuplication(t(s, dir, "documents"),
        "text", "doc_id", n = 4, minDocs = 2, saltBuckets = 8)
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("n_grams"), col("n_dup_grams"), col("dup_frac")),
    qDupSpans.oracle)

  /** Hybrid retrieval: BM25 lexical ranking fused with embedding-cosine
    * semantic ranking by reciprocal-rank fusion (see
    * [[Ranking.rrfFuse]]). The lexical query is the same term bag as
    * [[qBm25]]; the semantic query is embedding 0 against the rest of
    * the corpus; doc_id = vec_id links the two sides where both exist
    * (the full-outer fusion keeps single-list documents). Fully exact,
    * so fully oracle-checked — DuckDB recomputes both rankings and the
    * fusion.
    */
  private val qHybridRrf = Q("q_hybrid_rrf",
    (s, dir) => {
      val lex = Ranking.bm25(t(s, dir, "documents"), "text", "doc_id",
        Seq("spark", "join", "window")).select(col("doc_id"), col("bm25"))
      val emb = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("__qv"))
      val sem = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(Kernels.vectorCosine(col("__qv"), col("embedding")), 6).as("cos"))
      Ranking.rrfFuse(lex, sem, "doc_id", "bm25", "cos",
          k = 50, kRrf = 60, topN = 20)
        .select(col("doc_id").cast("bigint").as("doc_id"),
          col("rank_lex").cast("bigint").as("rank_lex"),
          col("rank_sem").cast("bigint").as("rank_sem"),
          col("rrf"))
    },
    Some("""WITH tk AS (
           |  SELECT doc_id,
           |         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
           |  FROM documents),
           |base AS (
           |  SELECT doc_id, len(t) AS dl,
           |         len(list_filter(t, x -> x = 'spark'))  AS tf_spark,
           |         len(list_filter(t, x -> x = 'join'))   AS tf_join,
           |         len(list_filter(t, x -> x = 'window')) AS tf_window
           |  FROM tk),
           |st AS (
           |  SELECT count(*) AS n, avg(dl) AS avgdl,
           |         sum(CASE WHEN tf_spark  > 0 THEN 1 ELSE 0 END) AS df_spark,
           |         sum(CASE WHEN tf_join   > 0 THEN 1 ELSE 0 END) AS df_join,
           |         sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
           |  FROM base),
           |lexs AS (
           |  SELECT doc_id,
           |         round(ln((n - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
           |                 * (tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75 * b.dl / avgdl))
           |             + ln((n - df_join + 0.5) / (df_join + 0.5) + 1.0)
           |                 * (tf_join * 2.2) / (tf_join + 1.2 * (0.25 + 0.75 * b.dl / avgdl))
           |             + ln((n - df_window + 0.5) / (df_window + 0.5) + 1.0)
           |                 * (tf_window * 2.2) / (tf_window + 1.2 * (0.25 + 0.75 * b.dl / avgdl)),
           |           6) AS s
           |  FROM base b, st
           |  WHERE tf_spark + tf_join + tf_window > 0),
           |lex AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank_lex
           |  FROM lexs QUALIFY rank_lex <= 50),
           |env AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings WHERE embedding IS NOT NULL),
           |qv AS (SELECT v AS q FROM env WHERE vec_id = 0),
           |sems AS (
           |  SELECT vec_id AS doc_id, round(list_cosine_similarity(v, q), 6) AS s
           |  FROM env, qv WHERE vec_id <> 0),
           |sem AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank_sem
           |  FROM sems QUALIFY rank_sem <= 50),
           |f AS (
           |  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, rank_lex, rank_sem,
           |         round(coalesce(1.0 / (60 + rank_lex), 0) +
           |               coalesce(1.0 / (60 + rank_sem), 0), 6) AS rrf
           |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CAST(rank_lex AS BIGINT) AS rank_lex,
           |       CAST(rank_sem AS BIGINT) AS rank_sem, rrf
           |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin))

  /** Sketch calibration, distinct counts: per-language EXACT distinct
    * fingerprints, gated per row on the HLL++ sketch
    * (`approx_count_distinct`, rsd 2%) agreeing within 5% (see
    * [[Ops.withinTolerance]]). At 100 TB only the sketch runs (one
    * dense HLL register set per group vs a full distinct shuffle); this
    * query is the calibration audit that makes trusting it evidence,
    * not hope — any drifted group's row vanishes and the driver's
    * rows/hash match fails. HLL is deterministic for fixed input, so
    * the gate cannot flake.
    */
  /** Count-min-sketch heavy hitters, calibrated: exact top-10 tokens by
    * frequency (the oracle side), each row gated on its CMS estimate
    * honoring the sketch's two-sided guarantee
    * `exact <= est <= exact + eps*N` — a broken sketch (or a probe
    * hashing differently from the aggregate's update path) drops rows
    * and fails the driver's rows_match. At corpus scale only the
    * sketch pass runs (one aggregate, mergeable partials); the exact
    * twin is this query's audit equipment. Completes the
    * sketch-calibration family beside HLL distinct and the quantile
    * digest. */
  private val qApproxTopk = Q("q_approx_topk",
    (s, dir) => {
      val eps = 0.001
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val sketch = toks.agg(
        expr(s"count_min_sketch(token, ${eps}d, 0.99d, 42)").as("__sk"),
        count(lit(1)).as("__n"))
      toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc).limit(10)
        .crossJoin(broadcast(sketch))
        .withColumn("__est", Kernels.cmsEstimate(col("__sk"), col("token")))
        .filter(col("__est") >= col("cnt") &&
          col("__est") <= col("cnt") + ceil(lit(eps) * col("__n")))
        .select(col("token"), col("cnt").cast("bigint").as("cnt"))
    },
    Some("""SELECT token, CAST(count(*) AS BIGINT) AS cnt
           |FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
           |      FROM documents)
           |WHERE len(token) > 0
           |GROUP BY token
           |ORDER BY cnt DESC, token ASC
           |LIMIT 10""".stripMargin))

  /** Persisted-sketch distinct counting — the "sketch once, merge
    * forever" shape a 100 TB profile pipeline actually runs: stage 1
    * (the per-ingest job) aggregates one DataSketches HLL sketch per
    * (source, lang) cell and PERSISTS the sketches (a few KB each —
    * the corpus is never re-read); stage 2 (any later rollup) unions
    * the persisted sketches across sources per lang and estimates.
    * Spark's `hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`
    * (Apache DataSketches HllSketch) make the merge associative —
    * tomorrow's ingest appends one sketch row, and every historical
    * rollup stays valid without touching historical data.
    *
    * Audit contract = [[qApproxDistinct]]'s: each per-lang estimate is
    * gated within 5% of the exact distinct computed in-plan, the gate
    * filters to zero rows on drift, and the oracle-compared output is
    * the exact column (sketch estimates are implementation-defined;
    * the gate is what makes rows>0 evidence). */
  private val qHllPersisted = Q("q_hll_persisted",
    (s, dir) => {
      val out = scratch("q_hll_persisted")
      val fp = TF.contentFingerprint(col("text"))
      val docs = t(s, dir, "documents")
      docs.groupBy(col("source"), col("lang"))
        .agg(hll_sketch_agg(TF.contentFingerprint(col("text")), 14).as("sketch"))
        .write.mode("overwrite").parquet(s"$out/sketches")
      val merged = s.read.parquet(s"$out/sketches")
        .groupBy(col("lang"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
          .as("__approx"))
      val exact = docs.groupBy(col("lang"))
        .agg(countDistinct(fp).as("n_exact"))
      merged.join(exact, Seq("lang"))
        .filter(Ops.withinTolerance(col("__approx"), col("n_exact"), 0.05))
        .select(col("lang"), col("n_exact").cast("bigint").as("n_exact"))
    },
    Some("""SELECT lang,
           |       CAST(count(DISTINCT md5(lower(regexp_replace(trim(text),
           |            '[ \t\n\x0B\f\r]+', ' ', 'g')))) AS BIGINT) AS n_exact
           |FROM documents GROUP BY 1""".stripMargin))

  private val qApproxDistinct = Q("q_approx_distinct",
    (s, dir) => {
      val fp = TF.contentFingerprint(col("text"))
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(countDistinct(fp).as("n_exact"),
          approx_count_distinct(fp, 0.02).as("__approx"))
        .filter(Ops.withinTolerance(col("__approx"), col("n_exact"), 0.05))
        .select(col("lang"), col("n_exact").cast("bigint").as("n_exact"))
    },
    Some("""SELECT lang,
           |       CAST(count(DISTINCT md5(lower(regexp_replace(trim(text),
           |            '[ \t\n\x0B\f\r]+', ' ', 'g')))) AS BIGINT) AS n_exact
           |FROM documents GROUP BY 1""".stripMargin))

  /** Sketch calibration, quantiles: per-returnflag EXACT interpolated
    * percentiles of extended price, each row gated on the
    * `percentile_approx` digest (accuracy 10⁴ ⇒ rank error ≤ 10⁻⁴·n)
    * landing within 1% of the exact value. Same audit contract as
    * [[qApproxDistinct]]: the sketch is what a 100 TB profile job runs;
    * the exact twin + gate is the per-round proof it stays honest.
    * Spark's `percentile` and DuckDB's `quantile_cont` share the
    * p·(n−1) linear-interpolation definition.
    */
  private val qApproxQuantiles = Q("q_approx_quantiles",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      // ONE exact buffer and ONE digest for both percentiles (array
      // form) — four scalar aggs would build four per-group buffers
      .agg(percentile(col("l_extendedprice"),
          array(lit(0.5), lit(0.9))).as("__p"),
        percentile_approx(col("l_extendedprice"),
          array(lit(0.5), lit(0.9)), lit(10000)).as("__a"))
      .select(col("l_returnflag"),
        element_at(col("__p"), 1).as("__p50"),
        element_at(col("__p"), 2).as("__p90"),
        element_at(col("__a"), 1).as("__a50"),
        element_at(col("__a"), 2).as("__a90"))
      .filter(Ops.withinTolerance(col("__a50"), col("__p50"), 0.01) &&
        Ops.withinTolerance(col("__a90"), col("__p90"), 0.01))
      .select(col("l_returnflag"),
        round(col("__p50"), 4).as("p50"), round(col("__p90"), 4).as("p90")),
    Some("""SELECT l_returnflag,
           |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
           |FROM lineitem GROUP BY 1""".stripMargin))

  /** [[qDecontaminate]]'s exact semantics through the Bloom-pruned
    * plan ([[Decontaminate.overlapBloom]], shuffle verification) — the
    * runtime-filter path a benchmark gram set too big to broadcast
    * takes, hash-checked against the SAME DuckDB closure because Bloom
    * false positives die in the exact verification join by
    * construction.
    */
  private val qDecontaminateBloom = Q("q_decontaminate_bloom",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.overlapBloom(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "text", "doc_id", n = 3, minShared = 2,
        expectedGrams = 1L << 16, fpp = 0.01)
        .select(col("doc_id").cast("bigint").as("doc_id"), col("n_shared"))
    },
    qDecontaminate.oracle)

  /** CCNet-style LM quality scoring: corpus-self-trained add-α bigram
    * model (count-pruned at 2), every document scored by mean bigram
    * log-probability ([[LmQuality]]). Fully exact — DuckDB retrains the
    * same model and rescoring inside the oracle, so the whole
    * train-then-score loop is hash-checked.
    */
  private val qLmScore = Q("q_lm_score",
    (s, dir) => LmQuality.selfScore(t(s, dir, "documents"), "text", "doc_id",
        alpha = 0.5, minCount = 2)
      .select(col("id").cast("bigint").as("doc_id"),
        col("n_bigrams"), col("avg_logprob")),
    Some("""WITH tk AS (
           |  SELECT doc_id,
           |         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |              ELSE string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') END AS t
           |  FROM documents),
           |bg AS (
           |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
           |                         for i in range(1, len(t))]) AS b
           |  FROM tk WHERE len(t) >= 2),
           |c2 AS (SELECT b, count(*) AS n2 FROM bg GROUP BY 1 HAVING count(*) >= 2),
           |c1 AS (SELECT split_part(b, ' ', 1) AS w1, count(*) AS n1 FROM bg GROUP BY 1),
           |v  AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs
           |       FROM (SELECT unnest(t) AS w FROM tk)),
           |sc AS (
           |  SELECT g.doc_id,
           |         ln((coalesce(c2.n2, 0) + 0.5) /
           |            (coalesce(c1.n1, 0) + 0.5 * v.vs)) AS lp
           |  FROM bg g
           |  LEFT JOIN c2 USING (b)
           |  LEFT JOIN c1 ON split_part(g.b, ' ', 1) = c1.w1
           |  CROSS JOIN v)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CAST(count(*) AS BIGINT) AS n_bigrams,
           |       round(avg(lp), 6) AS avg_logprob
           |FROM sc GROUP BY 1""".stripMargin))

  /** Attribution interval join, batch twin: every click joined to the
    * same user's views in the preceding 24 h
    * ([[graft.streaming.EventStreams.attribution]] — the identical
    * code runs as a watermarked stream-stream join whose event-time
    * bound is what evicts join state; EventStreamsSpec pins the
    * streaming side). Timestamps compare at Spark's microsecond
    * truncation on both sides (`epoch_us` in the oracle).
    */
  private val qEventAttribution = Q("q_event_attribution",
    (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("event_id").as("view_id"))
      graft.streaming.EventStreams.attribution(
          clicks, views, "user_id", "click_ts", "view_ts", "24 hours")
        .select(col("click_id").cast("bigint").as("click_id"),
          col("view_id").cast("bigint").as("view_id"),
          (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
            .as("gap_us"))
    },
    Some("""SELECT CAST(c.event_id AS BIGINT) AS click_id,
           |       CAST(v.event_id AS BIGINT) AS view_id,
           |       epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
           |FROM events c JOIN events v
           |  ON c.user_id = v.user_id
           | AND c.event_type = 'click' AND v.event_type = 'view'
           | AND epoch_us(v.ts) <= epoch_us(c.ts)
           | AND epoch_us(v.ts) >= epoch_us(c.ts) - 86400000000""".stripMargin))

  /** Keyed upsert (the Kettle `Insert / Update` shape): a modified
    * slice and a batch of new keys folded into the customer dimension —
    * updates win on collision, untouched rows pass through, new keys
    * append ([[Dimensions.upsert]]).
    */
  /** Crawl-to-crawl snapshot diff ([[Dimensions.snapshotDiff]] — the
    * CDC-extract producing the change feeds q_upsert/q_scd2 apply): a
    * derived "recrawl" of documents drops every 7th doc, edits every
    * 5th's text, and re-ids every 11th as an addition; the diff must
    * flag exactly the delta, with identical rows (the corpus bulk)
    * dropped in-plan. Text is surfaced as md5 so the dump stays narrow
    * while still pinning the VALUE each side contributes (deleted rows
    * carry the old text, new/changed the new).
    */
  private val qSnapshotDiff = Q("q_snapshot_diff",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val recrawl = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      Dimensions.snapshotDiff(docs, recrawl, Seq("doc_id"),
          Seq("text", "lang"))
        .select(col("doc_id").cast("bigint").as("doc_id"), col("lang"),
          md5(encode(col("text"), "UTF-8")).as("text_md5"), col("change"))
    },
    Some("""WITH recrawl AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 5 = 0 THEN text || ' [v2]' ELSE text END AS text,
           |         lang
           |  FROM documents WHERE doc_id % 7 <> 0
           |  UNION ALL
           |  SELECT doc_id + 10000000, text, lang
           |  FROM documents WHERE doc_id % 11 = 0)
           |SELECT CAST(coalesce(n.doc_id, o.doc_id) AS BIGINT) AS doc_id,
           |       CASE WHEN n.doc_id IS NULL THEN o.lang ELSE n.lang END AS lang,
           |       md5(CASE WHEN n.doc_id IS NULL THEN o.text ELSE n.text END) AS text_md5,
           |       CASE WHEN o.doc_id IS NULL THEN 'new'
           |            WHEN n.doc_id IS NULL THEN 'deleted'
           |            ELSE 'changed' END AS change
           |FROM recrawl n FULL OUTER JOIN documents o ON n.doc_id = o.doc_id
           |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
           |   OR (n.text IS DISTINCT FROM o.text)
           |   OR (n.lang IS DISTINCT FROM o.lang)""".stripMargin))

  private val qUpsert = Q("q_upsert",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey"))
      val updates = cust.filter(pmod(col("c_custkey"), lit(10)) === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(cust.filter(col("c_custkey") < 5)
          .withColumn("c_custkey", col("c_custkey") + 10000000))
      Dimensions.upsert(cust, updates, Seq("c_custkey"))
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          col("c_name"), round(col("c_acctbal"), 2).as("c_acctbal"),
          col("c_nationkey").cast("bigint").as("c_nationkey"))
    },
    Some("""WITH upd AS (
           |  SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal, c_nationkey
           |  FROM customer WHERE c_custkey % 10 = 0
           |  UNION ALL
           |  SELECT c_custkey + 10000000, c_name, c_acctbal, c_nationkey
           |  FROM customer WHERE c_custkey < 5)
           |SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
           |       round(c_acctbal, 2) AS c_acctbal,
           |       CAST(c_nationkey AS BIGINT) AS c_nationkey
           |FROM upd
           |UNION ALL
           |SELECT CAST(c_custkey AS BIGINT), c_name, round(c_acctbal, 2),
           |       CAST(c_nationkey AS BIGINT)
           |FROM customer
           |WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)""".stripMargin))

  /** Type-2 SCD apply (the Kettle `Dimension lookup/update` shape):
    * one change batch folded into a validity-interval dimension built
    * over customer — closed history passes through, genuinely changed
    * segments close-and-reopen, no-op changes leave no spurious
    * version, unseen keys open their first row
    * ([[Dimensions.scd2Apply]]). Every branch is exercised at every SF
    * (keys %3 change, %15 of those are no-ops, %7 carry closed
    * history, keys <3 arrive new).
    */
  /** The SCD2 fixture dimension (closed history + open rows + one
    * change batch, applied) shared by q_scd2 and q_scd2_lookup. */
  private def scd2Dim(s: SparkSession, dir: String): DataFrame = {
      val cust = t(s, dir, "customer")
      val open = cust.select(col("c_custkey"),
        col("c_mktsegment").as("segment"),
        to_date(lit("1990-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
      val closedHist = cust.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .select(col("c_custkey"),
          concat(lit("OLD_"), col("c_mktsegment")).as("segment"),
          to_date(lit("1985-01-01")).as("valid_from"),
          to_date(lit("1990-01-01")).as("valid_to"))
      val changes = cust.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .select(col("c_custkey"),
          when(pmod(col("c_custkey"), lit(15)) === 0, col("c_mktsegment"))
            .otherwise(concat(lit("SEG_"),
              pmod(col("c_custkey"), lit(5)).cast("string"))).as("segment"),
          to_date(lit("2020-06-01")).as("eff"))
        .unionByName(cust.filter(col("c_custkey") < 3)
          .select((col("c_custkey") + 9000000).as("c_custkey"),
            lit("NEW").as("segment"), to_date(lit("2020-06-01")).as("eff")))
      // open rows emit the conventional 9999-12-31 sentinel instead of
      // NULL: a NULL DATE column normalizes differently between a
      // Spark parquet dump (None) and a DuckDB result frame (NaT), so
      // a nullable date can never hash-compare — and the sentinel is
      // the standard warehouse convention for open SCD2 rows anyway
      Dimensions.scd2Apply(closedHist.unionByName(open), changes,
          Seq("c_custkey"), Seq("segment"), "valid_from", "valid_to", "eff")
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          col("segment"), col("valid_from"),
          coalesce(col("valid_to"), to_date(lit("9999-12-31"))).as("valid_to"))
  }

  private val qScd2 = Q("q_scd2",
    (s, dir) => scd2Dim(s, dir),
    Some("""WITH dim_open AS (
           |  SELECT c_custkey, c_mktsegment AS segment,
           |         DATE '1990-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
           |  FROM customer),
           |ch AS (
           |  SELECT c_custkey,
           |         CASE WHEN c_custkey % 15 = 0 THEN c_mktsegment
           |              ELSE 'SEG_' || CAST(c_custkey % 5 AS VARCHAR) END AS nseg,
           |         DATE '2020-06-01' AS eff
           |  FROM customer WHERE c_custkey % 3 = 0
           |  UNION ALL
           |  SELECT c_custkey + 9000000, 'NEW', DATE '2020-06-01'
           |  FROM customer WHERE c_custkey < 3)
           |SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
           |       'OLD_' || c_mktsegment AS segment,
           |       DATE '1985-01-01' AS valid_from, DATE '1990-01-01' AS valid_to
           |FROM customer WHERE c_custkey % 7 = 0
           |UNION ALL
           |SELECT CAST(d.c_custkey AS BIGINT), d.segment, d.valid_from,
           |       CASE WHEN ch.eff IS NOT NULL
           |                  AND d.segment IS DISTINCT FROM ch.nseg
           |            THEN ch.eff ELSE DATE '9999-12-31' END
           |FROM dim_open d LEFT JOIN ch USING (c_custkey)
           |UNION ALL
           |SELECT CAST(ch.c_custkey AS BIGINT), ch.nseg, ch.eff,
           |       DATE '9999-12-31'
           |FROM ch LEFT JOIN dim_open d USING (c_custkey)
           |WHERE d.c_custkey IS NULL OR d.segment IS DISTINCT FROM ch.nseg""".stripMargin))

  /** Point-in-time enrichment THROUGH the applied dimension: order
    * facts are given timestamps spanning all three version eras (−90
    * months → the closed OLD_ window, as-is → the 1990 open rows, +360
    * months → post-change versions), then [[Dimensions.asOfLookup]]
    * picks each fact's covering version from the very dimension
    * [[scd2Dim]] built with scd2Apply — so a hash-green row checks the
    * write path and the read path COMPOSED. Facts before their key's
    * first version (pre-1990 for never-closed keys) come back with a
    * NULL segment, which the oracle's interval join reproduces. */
  private val qScd2Lookup = Q("q_scd2_lookup",
    (s, dir) => {
      val od = col("o_orderdate").cast("date")
      val facts = t(s, dir, "orders").select(
        col("o_orderkey").cast("bigint").as("o_orderkey"),
        col("o_custkey").cast("bigint").as("o_custkey"),
        when(pmod(col("o_orderkey"), lit(3)) === 0, add_months(od, -90))
          .when(pmod(col("o_orderkey"), lit(3)) === 1, od)
          .otherwise(add_months(od, 360)).as("ts"))
      Dimensions.asOfLookup(facts, scd2Dim(s, dir),
          Seq("o_custkey"), Seq("c_custkey"), "ts", "valid_from", "valid_to")
        .select(col("o_orderkey"), col("o_custkey"), col("ts"), col("segment"))
    },
    Some("""WITH dim_open AS (
           |  SELECT c_custkey, c_mktsegment AS segment,
           |         DATE '1990-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
           |  FROM customer),
           |ch AS (
           |  SELECT c_custkey,
           |         CASE WHEN c_custkey % 15 = 0 THEN c_mktsegment
           |              ELSE 'SEG_' || CAST(c_custkey % 5 AS VARCHAR) END AS nseg,
           |         DATE '2020-06-01' AS eff
           |  FROM customer WHERE c_custkey % 3 = 0
           |  UNION ALL
           |  SELECT c_custkey + 9000000, 'NEW', DATE '2020-06-01'
           |  FROM customer WHERE c_custkey < 3),
           |dim AS (
           |  SELECT c_custkey, 'OLD_' || c_mktsegment AS segment,
           |         DATE '1985-01-01' AS valid_from, DATE '1990-01-01' AS valid_to
           |  FROM customer WHERE c_custkey % 7 = 0
           |  UNION ALL
           |  SELECT d.c_custkey, d.segment, d.valid_from,
           |         CASE WHEN ch.eff IS NOT NULL
           |                    AND d.segment IS DISTINCT FROM ch.nseg
           |              THEN ch.eff ELSE DATE '9999-12-31' END
           |  FROM dim_open d LEFT JOIN ch USING (c_custkey)
           |  UNION ALL
           |  SELECT ch.c_custkey, ch.nseg, ch.eff, DATE '9999-12-31'
           |  FROM ch LEFT JOIN dim_open d USING (c_custkey)
           |  WHERE d.c_custkey IS NULL OR d.segment IS DISTINCT FROM ch.nseg),
           |f AS (
           |  SELECT o_orderkey, o_custkey,
           |         CAST(CASE CAST(o_orderkey % 3 AS INT)
           |                WHEN 0 THEN CAST(o_orderdate AS DATE) - INTERVAL 90 MONTH
           |                WHEN 1 THEN CAST(o_orderdate AS DATE)
           |                ELSE CAST(o_orderdate AS DATE) + INTERVAL 360 MONTH
           |              END AS DATE) AS ts
           |  FROM orders)
           |SELECT CAST(f.o_orderkey AS BIGINT) AS o_orderkey,
           |       CAST(f.o_custkey AS BIGINT) AS o_custkey, f.ts, d.segment
           |FROM f LEFT JOIN dim d
           |  ON f.o_custkey = d.c_custkey
           | AND f.ts >= d.valid_from AND f.ts < d.valid_to""".stripMargin))

  /** Ordered multi-change SCD2 — the Kettle `Dimension lookup/update`
    * stream contract [[graft.operators.Dimensions.scd2ApplyOrdered]]:
    * one batch replays SEVERAL changes per key (a CDC day), folded per
    * key in (eff, ord) order. The change design exercises every branch:
    * chained versions, a change that repeats the open row (collapse),
    * a change that repeats the PREVIOUS change (collapse mid-stream),
    * same-day ties broken by `ord` (zero-width version for the loser),
    * brand-new keys with two changes, and untouched closed history.
    * The oracle re-derives the same fold with plain SQL windows
    * (lag-collapse, lead-close). Open rows emit the 9999-12-31
    * sentinel — the NULL-DATE hash hazard, as in q_scd2.
    */
  private val qScd2Multi = Q("q_scd2_multi",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val open = cust.select(col("c_custkey"),
        col("c_mktsegment").as("segment"),
        to_date(lit("1990-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
      val closedHist = cust.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .select(col("c_custkey"),
          concat(lit("OLD_"), col("c_mktsegment")).as("segment"),
          to_date(lit("1985-01-01")).as("valid_from"),
          to_date(lit("1990-01-01")).as("valid_to"))
      val chA = cust.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .select(col("c_custkey"),
          when(pmod(col("c_custkey"), lit(21)) === 0, col("c_mktsegment"))
            .otherwise(concat(lit("SEG_"),
              pmod(col("c_custkey"), lit(5)).cast("string"))).as("segment"),
          to_date(lit("2020-01-10")).as("eff"), lit(1L).as("ord"))
      val chB = cust.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .select(col("c_custkey"),
          when(pmod(col("c_custkey"), lit(15)) === 0, col("c_mktsegment"))
            .otherwise(concat(lit("SEG_"),
              pmod(col("c_custkey"), lit(4)).cast("string"))).as("segment"),
          to_date(lit("2020-06-01")).as("eff"), lit(2L).as("ord"))
      val chC = cust.filter(pmod(col("c_custkey"), lit(6)) === 0)
        .select(col("c_custkey"),
          concat(lit("TIE_"),
            pmod(col("c_custkey"), lit(9)).cast("string")).as("segment"),
          to_date(lit("2020-06-01")).as("eff"), lit(3L).as("ord"))
      val chNew = cust.filter(col("c_custkey") < 3)
        .select((col("c_custkey") + 9000000).as("c_custkey"),
          lit("NEW_A").as("segment"),
          to_date(lit("2020-01-10")).as("eff"), lit(1L).as("ord"))
        .unionByName(cust.filter(col("c_custkey") < 3)
          .select((col("c_custkey") + 9000000).as("c_custkey"),
            lit("NEW_B").as("segment"),
            to_date(lit("2020-03-01")).as("eff"), lit(2L).as("ord")))
      val changes = chA.unionByName(chB).unionByName(chC).unionByName(chNew)
      Dimensions.scd2ApplyOrdered(closedHist.unionByName(open), changes,
          Seq("c_custkey"), Seq("segment"), "valid_from", "valid_to",
          "eff", "ord")
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          col("segment"), col("valid_from"),
          coalesce(col("valid_to"), to_date(lit("9999-12-31"))).as("valid_to"))
    },
    Some("""WITH dim_open AS (
           |  SELECT c_custkey, c_mktsegment AS segment,
           |         DATE '1990-01-01' AS vfrom
           |  FROM customer),
           |ch AS (
           |  SELECT c_custkey,
           |         CASE WHEN c_custkey % 21 = 0 THEN c_mktsegment
           |              ELSE 'SEG_' || CAST(c_custkey % 5 AS VARCHAR) END AS segment,
           |         DATE '2020-01-10' AS eff, 1 AS ord
           |  FROM customer WHERE c_custkey % 3 = 0
           |  UNION ALL
           |  SELECT c_custkey,
           |         CASE WHEN c_custkey % 15 = 0 THEN c_mktsegment
           |              ELSE 'SEG_' || CAST(c_custkey % 4 AS VARCHAR) END,
           |         DATE '2020-06-01', 2
           |  FROM customer WHERE c_custkey % 3 = 0
           |  UNION ALL
           |  SELECT c_custkey, 'TIE_' || CAST(c_custkey % 9 AS VARCHAR),
           |         DATE '2020-06-01', 3
           |  FROM customer WHERE c_custkey % 6 = 0
           |  UNION ALL
           |  SELECT c_custkey + 9000000, 'NEW_A', DATE '2020-01-10', 1
           |  FROM customer WHERE c_custkey < 3
           |  UNION ALL
           |  SELECT c_custkey + 9000000, 'NEW_B', DATE '2020-03-01', 2
           |  FROM customer WHERE c_custkey < 3),
           |stream AS (
           |  SELECT c_custkey, segment, vfrom, CAST(NULL AS DATE) AS eff,
           |         0 AS is_change, 0 AS ord
           |  FROM dim_open
           |  UNION ALL
           |  SELECT c_custkey, segment, eff, eff, 1, ord FROM ch),
           |lagged AS (
           |  SELECT *, lag(segment) OVER w AS prev_seg,
           |         lag(1) OVER w AS has_prev
           |  FROM stream
           |  WINDOW w AS (PARTITION BY c_custkey ORDER BY is_change, eff, ord)),
           |surv AS (
           |  SELECT * FROM lagged
           |  WHERE has_prev IS NULL OR segment IS DISTINCT FROM prev_seg),
           |vers AS (
           |  SELECT c_custkey, segment, vfrom AS valid_from,
           |         lead(eff) OVER (PARTITION BY c_custkey
           |                         ORDER BY is_change, eff, ord) AS valid_to
           |  FROM surv)
           |SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
           |       'OLD_' || c_mktsegment AS segment,
           |       DATE '1985-01-01' AS valid_from, DATE '1990-01-01' AS valid_to
           |FROM customer WHERE c_custkey % 7 = 0
           |UNION ALL
           |SELECT CAST(c_custkey AS BIGINT), segment, valid_from,
           |       COALESCE(valid_to, DATE '9999-12-31')
           |FROM vers""".stripMargin))

  /** The Z-order layout kernels under the driver's oracle: emit the 2-D
    * signed-order-preserving Morton key ([[graft.functions.LayoutKernels
    * .morton2]], the sort key behind `Sinks.writeZOrdered` file
    * skipping) and the 4-D bucket-coordinate key (`mortonN`) for
    * deterministic (int, int) pairs derived from `part`; DuckDB
    * recomputes both interleaves with plain bit ops. `a`/`b` straddle
    * zero so the signed-flip path (sign bit → unsigned order → flip the
    * interleaved top bit back) is exercised, not just the easy
    * non-negative quadrant. LayoutSpec pins the file-skipping behavior;
    * this puts the curve itself in the CORRECTNESS ledger.
    */
  private val qZorder = Q("q_zorder",
    (s, dir) => {
      import graft.functions.LayoutFunctions
      t(s, dir, "part").select(
          col("p_partkey").cast("bigint").as("id"),
          (pmod(col("p_partkey"), lit(1024)) - 512).cast("int").as("a"),
          (pmod(col("p_size") * 37, lit(1024)) - 512).cast("int").as("b"),
          pmod(col("p_partkey"), lit(4096)).cast("int").as("x1"),
          pmod(col("p_partkey") * 7, lit(4096)).cast("int").as("x2"),
          pmod(col("p_size") * 11, lit(4096)).cast("int").as("x3"),
          pmod(col("p_partkey") + col("p_size"), lit(4096)).cast("int").as("x4"))
        .select(col("id"), col("a"), col("b"),
          LayoutFunctions.zOrder2(col("a"), col("b")).as("zkey"),
          LayoutFunctions.zOrderN(
            col("x1"), col("x2"), col("x3"), col("x4")).as("zkey4"))
    },
    // zkey: ua/ub = signed int + 2^31 (the sign-bit flip as arithmetic);
    // even positions take all 32 ua bits (0..62), odd positions take ub
    // bits 0..30 (1..61); ub bit 31 would land at position 63, which the
    // final flip inverts — as signed arithmetic that is
    // `+ (1 - ub31) * Long.MinValue`. zkey4: bit j of dim i lands at
    // j*4 + i; coords are bucketed to [0, 4096) so 12 bits each suffice.
    Some("""WITH src AS (
           |  SELECT CAST(p_partkey AS BIGINT) AS id,
           |         CAST(p_partkey % 1024 - 512 AS BIGINT) AS a,
           |         CAST((p_size * 37) % 1024 - 512 AS BIGINT) AS b,
           |         CAST(p_partkey % 4096 AS BIGINT) AS x1,
           |         CAST((p_partkey * 7) % 4096 AS BIGINT) AS x2,
           |         CAST((p_size * 11) % 4096 AS BIGINT) AS x3,
           |         CAST((p_partkey + p_size) % 4096 AS BIGINT) AS x4
           |  FROM part),
           |u AS (SELECT *, a + 2147483648 AS ua, b + 2147483648 AS ub FROM src)
           |SELECT id, CAST(a AS INTEGER) AS a, CAST(b AS INTEGER) AS b,
           |       CAST(list_sum([((ua >> i) & 1) << (2*i) for i in range(32)])
           |          + list_sum([((ub >> i) & 1) << (2*i+1) for i in range(31)])
           |          + (1 - ((ub >> 31) & 1)) * (-9223372036854775807 - 1)
           |          AS BIGINT) AS zkey,
           |       CAST(list_sum([((x1 >> j) & 1) << (j*4)     for j in range(12)])
           |          + list_sum([((x2 >> j) & 1) << (j*4 + 1) for j in range(12)])
           |          + list_sum([((x3 >> j) & 1) << (j*4 + 2) for j in range(12)])
           |          + list_sum([((x4 >> j) & 1) << (j*4 + 3) for j in range(12)])
           |          AS BIGINT) AS zkey4
           |FROM u""".stripMargin))

  /** Hilbert layout key + inverse decode under the oracle (see
    * [[graft.functions.LayoutKernels.hilbert2]] — the better-locality
    * sibling of [[qZorder]]'s Morton curve; the measured file-span
    * payoff is pinned in LayoutSpec). `y` dips below the bucket range
    * so the saturating clamp is exercised; `dx`/`dy` round-trip the
    * key through [[graft.functions.LayoutKernels.unhilbert2]], so the
    * inverse is hash-checked as the identity on the clamped cell. */
  private val qHilbert = Q("q_hilbert",
    (s, dir) => {
      import graft.functions.LayoutFunctions
      t(s, dir, "part").select(
          col("p_partkey").cast("bigint").as("id"),
          pmod(col("p_partkey"), lit(65536)).cast("int").as("x"),
          (pmod(col("p_partkey") * 31 + col("p_size") * 7, lit(65536)) - 64)
            .cast("int").as("y"))
        .withColumn("hkey", LayoutFunctions.hilbert2(col("x"), col("y")))
        .withColumn("dec", LayoutFunctions.hilbertDecode2(col("hkey")))
        .select(col("id"), col("x"), col("y"), col("hkey"),
          get(col("dec"), lit(0)).as("dx"), get(col("dec"), lit(1)).as("dy"))
    },
    Some(OracleSqlGen.hilbertLayout))

  /** BPE tokenizer TRAINING under the oracle: 8 merges learned from
    * the documents corpus by [[graft.operators.Bpe.train]] (one
    * tokenize+count shuffle, then dictionary-sized iterations), and
    * DuckDB replays the whole loop generation by generation — word
    * counts, overlap-counting pair stats, byte-order tie-break, and
    * the SAME doubled-separator replace() merge pass — so the learned
    * merge table is hash-checked, not trusted. */
  private val qBpeTrain = Q("q_bpe_train",
    (s, dir) => {
      import s.implicits._
      val merges = graft.operators.Bpe.train(t(s, dir, "documents"), "text", 8)
      merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("rank", "a", "b")
    },
    Some(OracleSqlGen.bpeTrain(8)))

  /** BPE training under the 100 TB configuration: the dictionary capped
    * to the top-16 words by (count DESC, word ASC) — deterministic, and
    * small enough to bite at sf0.01 (31 distinct words) — AND the
    * dictionary forced off the driver (localDictLimit = 0, the
    * q_dup_clusters_dist pattern): the oracle replays the same capped
    * loop, so the production-scale path — Zipf-tail truncation plus
    * the words held in a persisted RDD, one job per merge returning
    * pair-count changes — is hash-checked end to end, while
    * q_bpe_train exercises the driver-local budgeted path on the same
    * corpus. */
  private val qBpeTrainCapped = Q("q_bpe_train_capped",
    (s, dir) => {
      import s.implicits._
      val merges = graft.operators.Bpe.train(
        t(s, dir, "documents"), "text", 8, maxDictWords = 16,
        localDictLimit = 0)
      merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("rank", "a", "b")
    },
    Some(OracleSqlGen.bpeTrainCapped(8, 16)))

  /** BPE ENCODE at corpus scale: the same 8 trained merges applied per
    * document by the codegen `bpe_tokens` kernel (one narrow pass,
    * merges ride the expression — no join, no shuffle); the oracle
    * recomputes token counts via a dictionary join over the replayed
    * training chain. Word and token counts both pinned. */
  private val qBpeEncode = Q("q_bpe_encode",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.Bpe.train(docs, "text", 8)
      // NULL text must count as 0/0 like the oracle's LEFT JOIN — a
      // bare size(NULL) would emit NULL (ANSI) and break the compare
      // on a regenerated corpus with null rows
      docs.select(col("doc_id").cast("bigint").as("doc_id"),
        coalesce(size(graft.operators.Bpe.wordsCol(col("text"))), lit(0))
          .cast("bigint").as("n_words"),
        coalesce(size(graft.operators.Bpe.tokens(col("text"), merges)), lit(0))
          .cast("bigint").as("n_tokens"))
    },
    Some(OracleSqlGen.bpeEncode(8)))

  /** DSIR-style importance weighting under the oracle: hashed-unigram
    * bucket distributions fit on target (lang='en') vs source (the
    * rest), per-doc mean log-ratio scores, deterministic top-100
    * selection ([[graft.operators.Importance]]). Buckets are
    * xxhash64-derived, so DuckDB replays them exactly; scores share
    * q_lm_score's ln/round(6) double-parity contract. */
  private val qImportance = Q("q_importance",
    (s, dir) => {
      import graft.operators.Importance
      val docs = t(s, dir, "documents")
      val ratios = Importance.fitLogRatios(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en" || col("lang").isNull),
        "text", buckets = 256)
      Importance.selectTopK(
        Importance.score(docs, "text", "doc_id", ratios, buckets = 256)
          .select(col("doc_id").cast("bigint").as("doc_id"),
            col("n_words").cast("bigint").as("n_words"), col("score")),
        "doc_id", k = 100)
    },
    Some(OracleSqlGen.importance))

  /** The (doc_id, lang, n_chars) projection both sampling queries draw
    * from — short, null-free fields keep the oracle's struct-hash fold
    * inside the <32-byte string path. */
  private def sampleProjection(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").cast("bigint").as("doc_id"), col("lang"),
      col("n_chars").cast("bigint").as("n_chars"))

  /** Deterministic per-group sampling under the oracle:
    * [[Ops.samplePerGroup]] keeps the 30 hash-smallest rows per lang —
    * ONE bounded aggregation (buffer never exceeds n, a global
    * random-order row_number would shuffle every row). DuckDB replays
    * the seeded whole-row struct hash and the signed order exactly. */
  private val qSampleGroup = Q("q_sample_group",
    (s, dir) => Ops.samplePerGroup(sampleProjection(s, dir), Seq("lang"),
      n = 30, seed = 7L),
    Some(OracleSqlGen.sampleGroup(30, 7L)))

  /** Content-hash Bernoulli sampling under the oracle:
    * [[Ops.deterministicSample]] keeps a row iff its seeded struct
    * hash mod 2^32 clears the fraction bound — membership is a pure
    * function of content (stable under repartitioning, retries, AQE),
    * unlike `df.sample`'s partition-RNG draw. */
  private val qSampleBernoulli = Q("q_sample_bernoulli",
    (s, dir) => Ops.deterministicSample(sampleProjection(s, dir),
      fraction = 0.35, seed = 7L),
    Some(OracleSqlGen.sampleBernoulli((0.35 * (1L << 32).toDouble).toLong, 7L)))

  /** Weighted sampling without replacement under the oracle:
    * [[Ops.sampleWeighted]] draws 200 documents with inclusion odds
    * proportional to n_chars via the Efraimidis–Spirakis exponential
    * race — one TakeOrdered pass (bounded per-partition top-k heap, no
    * global sort; plan-pinned). DuckDB replays the seeded content hash
    * and the race arithmetic; see OracleSqlGen.sampleWeighted for the
    * ln-ulp analysis and OpsSpec for the measured selection margins. */
  private val qSampleWeighted = Q("q_sample_weighted",
    (s, dir) => Ops.sampleWeighted(sampleProjection(s, dir),
      weightCol = "n_chars", k = 200, seed = 7L),
    Some(OracleSqlGen.sampleWeighted(200, 7L)))

  /** Per-group weighted sampling under the oracle:
    * [[Ops.sampleWeightedPerGroup]] draws 40 n_chars-weighted documents
    * per language as ONE bounded aggregation (per-group buffer capped
    * at n race entries map- and final-side) — the mixture-shaping form,
    * and the scale path when a global k outgrows TakeOrdered's driver
    * merge. DuckDB replays the identical race as a partitioned
    * row_number. */
  private val qSampleWeightedGroup = Q("q_sample_weighted_group",
    (s, dir) => Ops.sampleWeightedPerGroup(sampleProjection(s, dir),
      Seq("lang"), weightCol = "n_chars", n = 40, seed = 7L),
    Some(OracleSqlGen.sampleWeightedGroup(40, 7L)))

  /** Link-graph centrality as a curation signal (the Common Crawl
    * domain-ranking role): fixed-point PageRank
    * ([[graft.operators.Graph.pageRank]]) over the customer↔supplier
    * commerce graph (both directions of every customer-bought-from-
    * supplier pair via orders⋈lineitem; customers even ids, suppliers
    * odd, so the two key spaces never collide). Integer nano-rank
    * arithmetic makes the result BIT-IDENTICAL across runs, task
    * retries, and AQE re-plans — which is what lets a 6-iteration
    * iterative graph algorithm sit under the driver's hash-equality
    * oracle ([[OracleSqlGen.pageRank]] replays the exact recurrence as
    * a generated per-iteration CTE chain). Full (node, rank) mapping
    * pinned, not just a top-k. */
  private val pageRankEdgesSql =
    """  SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  UNION ALL
      |  SELECT l.l_suppkey * 2 + 1, o.o_custkey * 2
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin

  private val qPageRank = Q("q_pagerank",
    (s, dir) => {
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      val edges = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.pageRank(edges, iters = 6)
        .select(col("id").cast("bigint").as("id"),
          col("rank").cast("bigint").as("rank"))
    },
    Some(OracleSqlGen.pageRank(pageRankEdgesSql, iters = 6)))

  /** Order-independent corpus integrity checksum
    * ([[Ops.integrityChecksum]]): per-source row count + content
    * checksum (sum of per-row 60-bit md5 fingerprints mod 2^61−1) over
    * the full documents payload. The checksum is invariant to row
    * order, partitioning, task retries, and ENGINE — which is exactly
    * what the oracle demonstrates: DuckDB recomputes the same number
    * from its own md5 over its own scan order. This is the
    * validate-a-100TB-copy primitive: two tiny frames compare, nothing
    * sorts, nothing joins. */
  private val qIntegrityChecksum = Q("q_integrity_checksum",
    (s, dir) => Ops.integrityChecksum(t(s, dir, "documents"),
        Seq("source"), Seq("doc_id", "text", "lang", "n_chars"))
      .select(col("source"), col("n_rows").cast("bigint").as("n_rows"),
        col("checksum").cast("bigint").as("checksum")),
    Some("""WITH f AS (
           |  SELECT source,
           |         CAST(('0x' || substr(md5(
           |           CASE WHEN doc_id IS NULL THEN chr(1)
           |                ELSE 'v' || CAST(doc_id AS VARCHAR) END || chr(31) ||
           |           CASE WHEN text IS NULL THEN chr(1) ELSE 'v' || text END || chr(31) ||
           |           CASE WHEN lang IS NULL THEN chr(1) ELSE 'v' || lang END || chr(31) ||
           |           CASE WHEN n_chars IS NULL THEN chr(1)
           |                ELSE 'v' || CAST(n_chars AS VARCHAR) END), 1, 15)) AS BIGINT) AS fp
           |  FROM documents)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |       CAST(SUM(fp) % 2305843009213693951 AS BIGINT) AS checksum
           |FROM f GROUP BY source""".stripMargin))

  /** Distributed quality-classifier training under the hash oracle
    * ([[graft.operators.Classifier]]): a fastText/CCNet-role linear
    * model over hashed unigram features, trained with 4 full-batch
    * delta-rule iterations and scored over every document. The oracle
    * replays the WHOLE training loop CTE by CTE — possible only
    * because the operator is deterministic by construction
    * (exactly-specified IEEE link function, fixed-point gradient
    * sums); per-doc scores and predictions hash-compare.
    *
    * Label: "document mentions 'spark'" — deliberately a target the
    * hashed-unigram feature space can EXPRESS. This synthetic corpus
    * gives every language the same ~31-word vocabulary (measured
    * en-vs-rest unigram L1 distance 0.07 — chance-level), so a
    * language label would demonstrate nothing; real separable-corpus
    * learning dynamics are pinned in [[graft.ClassifierSpec]], and
    * accuracy on THIS task (probe-measured 0.996 at sf0.01 / 0.998 at
    * sf0.001, vs a 0.77 majority-class floor) is asserted at >= 0.9
    * there too. Config is probe-measured, not guessed: 256 buckets
    * because at 64 'spark' collides with the equally-frequent 'stream'
    * (presence of the shared bucket fires on 462/500 docs — nearly
    * uninformative — and accuracy stalls at ~0.82); at 256 every
    * frequent word has its own bucket. lr=2.0 is the stable optimum
    * (4.0 oscillates, 1.0 undertrained); 8 iterations reach 0.990 at
    * sf0.01 and halve the loop's job count vs 16 (0.996). */
  private val qQualityClassifier = Q("q_quality_classifier",
    (s, dir) => graft.operators.Classifier.trainScore(
        t(s, dir, "documents"), "text", "doc_id",
        coalesce(col("text").contains("spark"), lit(false)),
        buckets = 256, iters = 8, lr = 2.0)
      .select(col("doc_id").cast("bigint").as("doc_id"),
        col("n_words").cast("bigint").as("n_words"),
        col("label").cast("bigint").as("label"),
        col("score"), col("predicted").cast("bigint").as("predicted")),
    Some(OracleSqlGen.classifier(256, 8, "2.0",
      "COALESCE(contains(text, 'spark'), FALSE)")))

  /** Deterministic Lloyd's k-means over the embeddings table under the
    * hash oracle ([[graft.operators.KMeans]]): micro-quantized
    * components, exact-integer distances, lowest-id tie-breaks,
    * floor-division centroid updates — the classifier's determinism-
    * by-construction recipe applied to clustering, so DuckDB replays
    * all 4 Lloyd iterations CTE by CTE and the per-vector assignments
    * hash-compare. k=10 matches the table's planted label structure;
    * cluster-vs-label purity is measured in KMeansSpec. */
  private val qKmeans = Q("q_kmeans",
    (s, dir) => graft.operators.KMeans.fitAssign(
        t(s, dir, "embeddings"), "embedding", "vec_id", k = 10, iters = 4)
      .select(col("vec_id").cast("bigint").as("vec_id"), col("cluster")),
    Some(OracleSqlGen.kmeans(10, 4, 64)))

  /** SemDeDup-style semantic dedup under the hash oracle
    * ([[graft.operators.SemanticDedup]]): deterministic k-means
    * clusters the embedding space, then each cluster drops every
    * vector with a cosine-similar lower-id neighbor — the O(n²) work
    * bounded to cluster blocks, the similarity test exact integer
    * arithmetic (dot²·den² vs num²·‖a‖²‖b‖², no float cosine).
    * Threshold 2/5: measured, the corpus has ~60 pairs above it
    * (max pairwise cosine 0.51), so the screen does real work. */
  private val qSemanticDedup = Q("q_semantic_dedup",
    (s, dir) => graft.operators.SemanticDedup.dedup(
        t(s, dir, "embeddings"), "embedding", "vec_id", k = 10, iters = 4,
        cosNum = 2, cosDen = 5)
      .select(col("vec_id").cast("bigint").as("vec_id"), col("cluster"),
        col("kept")),
    Some(OracleSqlGen.semanticDedup(10, 4, 64, 2, 5)))

  /** The DSIR importance scorer labeled with its own target class
    * (y = lang='en') — the input both scorer-evaluation queries share.
    * Evaluating the scorer against the class it was fit FOR makes the
    * metrics meaningful: AUC asks "does the en-importance score
    * actually rank en documents above the rest?". */
  private def importanceScoredEn(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Importance
    val docs = t(s, dir, "documents")
    val ratios = Importance.fitLogRatios(
      docs.filter(col("lang") === "en"),
      docs.filter(col("lang") =!= "en" || col("lang").isNull),
      "text", buckets = 256)
    Importance.score(docs, "text", "doc_id", ratios, buckets = 256)
      .join(docs.select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y")), Seq("doc_id"))
  }

  /** Scorer evaluation under the oracle, ranking half
    * ([[graft.operators.Evaluation.binnedRankingMetrics]]): binned
    * Mann-Whitney AUC + KS of the DSIR importance score against its
    * own target label. Exact integer numerators, one final division
    * per metric — DuckDB replays scorer, binning, and metrics
    * bit-for-bit. */
  private val qScoreAuc = Q("q_score_auc",
    (s, dir) => graft.operators.Evaluation.binnedRankingMetrics(
      importanceScoredEn(s, dir), "score", "y", bins = 256),
    Some(OracleSqlGen.scoreAuc(256)))

  /** Scorer evaluation, calibration half
    * ([[graft.operators.Evaluation.binnedCalibration]]): per-bin
    * size, positive rate, and micro-quantized mean score — the table
    * a threshold decision reads before gating terabytes on a score
    * cut. 64 bins so sf-scale bins stay populated. */
  private val qScoreCalibration = Q("q_score_calibration",
    (s, dir) => graft.operators.Evaluation.binnedCalibration(
      importanceScoredEn(s, dir), "score", "y", bins = 64),
    Some(OracleSqlGen.scoreCalibration(64)))

  /** Scorer evaluation, gate half
    * ([[graft.operators.Evaluation.gateTopRate]]): keep the top 25%
    * of the corpus by DSIR score at bin granularity — the actual
    * "gate terabytes on a threshold" step the AUC/calibration queries
    * exist to justify. Bounded aggregation + broadcast threshold; no
    * global sort. */
  private val qScoreGate = Q("q_score_gate",
    (s, dir) => graft.operators.Evaluation.gateTopRate(
        importanceScoredEn(s, dir), "score", keepRate = 0.25, bins = 256)
      .select(col("doc_id").cast("bigint").as("doc_id"), col("score"),
        col("y").cast("bigint").as("y"), col("kept")),
    Some(OracleSqlGen.scoreGate("0.25", 256)))

  /** Every query, in a stable order. */
  /** HTML → text extraction under the oracle (r13): a crawl-style HTML
    * page is CONSTRUCTED in-plan around each document's text — a
    * rawtext script (with a lookalike close tag inside a string AND a
    * quoted `>` attribute), a style block, a comment hiding markup,
    * block tags, named + numeric character references, an `&nbsp;`,
    * and a literal `2 < 3` — then stripped back by the
    * [[Kernels.htmlExtract]] codegen kernel. The oracle recomputes the
    * expected extraction from the same construction, replaying the
    * whitespace-collapse contract with explicit RE2 classes — so tag
    * stripping, rawtext skipping, entity decoding, block separation,
    * and collapse are all hash-verified per document. One codegen
    * projection over the scan: no shuffle, no UDF, crawl-scale by
    * construction.
    */
  private val qHtmlExtract = Q("q_html_extract",
    (s, dir) => {
      // sanitize so the constructed markup is the ONLY markup: '<' '>'
      // '&' and NBSP in the document text become spaces on both sides
      val clean = regexp_replace(coalesce(col("text"), lit("")),
        "[<>&\u00A0]", " ")
      val digitRef = concat(lit("&#"),
        (lit(48) + pmod(col("doc_id"), lit(10))).cast("int").cast("string"),
        lit(";"))
      val html = concat(
        lit("<!DOCTYPE html><html><head><title>Doc "), digitRef,
        lit("</title><style>p{color:red}</style>"),
        lit("<script type=\"a>b\">var s = \"</scr\" + \"ipt>\"; if (1<2) {}</script></head>"),
        lit("<body data-x=\"1>2\"><h1>Header &amp; &#167;</h1>"),
        lit("<!-- hidden <p>not text</p> -->"),
        lit("<p>"), clean, lit("</p>"),
        lit("<ul><li>first</li><li>a&nbsp;&lt;3</li></ul>"),
        lit("<table><tr><td>c1</td><td>2 < 3</td></tr></table>"),
        lit("</body></html>"))
      val ext = Kernels.htmlExtract(html)
      t(s, dir, "documents").select(
        col("doc_id").cast("bigint").as("doc_id"),
        ext.as("extracted"),
        length(ext).cast("bigint").as("n_chars"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id,
           |         regexp_replace(coalesce(text, ''), '[<>&\x{00A0}]', ' ', 'g') AS cln
           |  FROM documents),
           |k AS (
           |  -- the kernel's whitespace collapse, replayed: a run with a
           |  -- newline -> one newline, else one space; ends trimmed
           |  SELECT doc_id,
           |         trim(
           |           regexp_replace(
           |             regexp_replace(cln, '[ \t\r]*\n[ \t\n\r]*', chr(10), 'g'),
           |             '[ \t\r]+', ' ', 'g'),
           |           ' ' || chr(10)) AS core
           |  FROM c),
           |e AS (
           |  SELECT doc_id,
           |         'Doc ' || chr(CAST(48 + doc_id % 10 AS INT)) || chr(10) ||
           |         'Header & §' || chr(10) ||
           |         CASE WHEN core = '' THEN '' ELSE core || chr(10) END ||
           |         'first' || chr(10) || 'a <3' || chr(10) || 'c1 2 < 3' AS extracted
           |  FROM k)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, extracted,
           |       CAST(len(extracted) AS BIGINT) AS n_chars
           |FROM e""".stripMargin))

  /** The canonical published pretraining quality-rule suites — Gopher
    * (Rae et al. 2021, A1.1) and C4 (Raffel et al. 2020 §2.2) — as ONE
    * codegen projection per document ([[TF.gopherRules]] /
    * [[TF.c4Rules]]): word/line statistics, symbol and bullet/ellipsis
    * ratios, stop-word presence, terminal-punctuation line filtering,
    * lorem-ipsum/brace page rules, and the C4-cleaned text itself. The
    * corpus text is born clean (no punctuation or newlines), so a
    * realistic multi-line page is CONSTRUCTED in-plan around each
    * document (deterministic per doc_id: a bullet line every 5th doc,
    * an ellipsis line every 3rd, a symbol-spam line every 13th, lorem
    * ipsum every 7th, a code brace every 11th) and the oracle replays
    * construction + every rule with DuckDB list lambdas — all 15
    * output columns hash-verified per document.
    */
  private val qQualityRules = Q("q_quality_rules",
    (s, dir) => {
      val id = col("doc_id")
      val l1 = lit("The data pipeline works with care.")
      val l2 = concat(coalesce(col("text"), lit("")),
        when(pmod(id, lit(13)) === 0, lit(" ## ## ## ## ## ## ## ## ## ## ## ##"))
          .when(pmod(id, lit(3)) === 0, lit("."))
          .when(pmod(id, lit(3)) === 1, lit(" …"))
          .otherwise(lit("")))
      val l3 = when(pmod(id, lit(5)) === 0, lit("• bullet item here"))
        .otherwise(lit("Columns of data flow fast!"))
      val l4 = when(pmod(id, lit(7)) === 0, lit("lorem ipsum dolor sit amet."))
        .when(pmod(id, lit(11)) === 0, lit("config { retries: 3 }"))
        .otherwise(lit("That should be enough now?"))
      val page = concat_ws("\n", l1, l2, l3, l4)
      // r18: materialize the two rule structs as NAMED columns first and
      // getField from the attributes — inlining `g`/`c` into all 15
      // output columns duplicated the whole kernel-over-page expression
      // tree 15×, and StageProbe showed the query spending ~3 s of its
      // wall in driver-side analysis of that tree (guide §7.3 "very
      // large query plans"), dwarfing its 0.5 s of execution.
      // CollapseProject keeps the split (the struct kernels are not
      // cheap-to-duplicate), so the plan carries each kernel once.
      // Same columns, same values — q_text_stats' established shape.
      val g = TF.gopherRules(page, minWords = 20, maxWords = 100000)
      val c = TF.c4Rules(page)
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), g.as("__g"), c.as("__c"))
        .select(
          col("doc_id"),
          col("__g").getField("n_words").as("n_words"),
          col("__g").getField("mean_word_len").as("mean_word_len"),
          col("__g").getField("symbol_ratio").as("symbol_ratio"),
          col("__g").getField("frac_alpha").as("frac_alpha"),
          col("__g").getField("bullet_frac").as("bullet_frac"),
          col("__g").getField("ellipsis_frac").as("ellipsis_frac"),
          col("__g").getField("stop_hits").as("stop_hits"),
          col("__g").getField("keep").as("gopher_keep"),
          col("__c").getField("n_kept_lines").as("c4_kept_lines"),
          col("__c").getField("n_sentences").as("c4_sentences"),
          col("__c").getField("has_lorem").as("has_lorem"),
          col("__c").getField("has_brace").as("has_brace"),
          col("__c").getField("keep").as("c4_keep"),
          col("__c").getField("clean").as("c4_clean"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id,
           |    'The data pipeline works with care.' || chr(10) ||
           |    coalesce(text,'') ||
           |      CASE WHEN doc_id % 13 = 0 THEN ' ## ## ## ## ## ## ## ## ## ## ## ##'
           |           WHEN doc_id % 3 = 0 THEN '.'
           |           WHEN doc_id % 3 = 1 THEN ' …'
           |           ELSE '' END || chr(10) ||
           |    CASE WHEN doc_id % 5 = 0 THEN '• bullet item here'
           |         ELSE 'Columns of data flow fast!' END || chr(10) ||
           |    CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.'
           |         WHEN doc_id % 11 = 0 THEN 'config { retries: 3 }'
           |         ELSE 'That should be enough now?' END AS page
           |  FROM documents),
           |tok AS (
           |  SELECT doc_id, page,
           |    CASE WHEN len(trim(page)) = 0 THEN CAST([] AS VARCHAR[])
           |         ELSE string_split_regex(trim(page), '[ \t\n\x0B\f\r]+') END AS t,
           |    list_filter(string_split(page, chr(10)), l -> len(trim(l)) > 0) AS ls
           |  FROM p),
           |m AS (
           |  SELECT doc_id, page, t, ls,
           |    CAST(len(t) AS BIGINT) AS n_words,
           |    CASE WHEN len(t) > 0 THEN
           |      round(CAST(list_aggregate(list_transform(t, x -> len(x)), 'sum') AS DOUBLE)
           |            / len(t), 6) END AS mean_word_len,
           |    CAST((len(page) - len(replace(page, '#', ''))) +
           |         (len(page) - len(replace(page, '…', ''))) +
           |         ((len(page) - len(replace(page, '...', ''))) // 3) AS BIGINT) AS n_sym,
           |    CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
           |    CAST(len(ls) AS BIGINT) AS n_lines,
           |    CAST(len(list_filter(ls, l -> substr(trim(l),1,1) IN ('•','‣','-','*'))) AS BIGINT) AS n_bullet,
           |    CAST(len(list_filter(ls, l -> ends_with(trim(l),'…') OR ends_with(trim(l),'...'))) AS BIGINT) AS n_ell,
           |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
           |         w -> list_contains(list_transform(t, x -> lower(x)), w))) AS BIGINT) AS stop_hits,
           |    list_filter(ls, l -> len(string_split_regex(trim(l), '[ \t\n\x0B\f\r]+')) >= 5
           |                     AND right(trim(l), 1) IN ('.','!','?','"','''')) AS keptl,
           |    CAST(len(regexp_extract_all(page, '[.!?]+')) AS BIGINT) AS n_sentences,
           |    contains(lower(page), 'lorem ipsum') AS has_lorem,
           |    contains(page, '{') AS has_brace
           |  FROM tok),
           |g AS (
           |  SELECT *,
           |    CASE WHEN n_words > 0 THEN round(CAST(n_sym AS DOUBLE)/n_words, 6) END AS symbol_ratio,
           |    CASE WHEN n_words > 0 THEN round(CAST(n_alpha AS DOUBLE)/n_words, 6) END AS frac_alpha,
           |    CASE WHEN n_lines > 0 THEN round(CAST(n_bullet AS DOUBLE)/n_lines, 6) ELSE 0.0 END AS bullet_frac,
           |    CASE WHEN n_lines > 0 THEN round(CAST(n_ell AS DOUBLE)/n_lines, 6) ELSE 0.0 END AS ellipsis_frac
           |  FROM m)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, n_words, mean_word_len, symbol_ratio,
           |  frac_alpha, bullet_frac, ellipsis_frac, stop_hits,
           |  ((n_words BETWEEN 20 AND 100000) AND coalesce(mean_word_len BETWEEN 3 AND 10, false)
           |    AND coalesce(symbol_ratio <= 0.1, false) AND coalesce(frac_alpha >= 0.8, false)
           |    AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 AND stop_hits >= 2) AS gopher_keep,
           |  CAST(len(keptl) AS BIGINT) AS c4_kept_lines,
           |  n_sentences AS c4_sentences, has_lorem, has_brace,
           |  (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace) AS c4_keep,
           |  array_to_string(list_transform(keptl, l -> trim(l)), chr(10)) AS c4_clean
           |FROM g""".stripMargin))

  /** URL canonicalization under the oracle (r13): six URL shapes are
    * CONSTRUCTED per doc_id — scheme/host case noise + default port +
    * dot segments + tracking params + unsorted query + fragment;
    * a non-default port; a bare host (empty path); percent-escapes
    * (unreserved decode, uppercase, malformed-verbatim); an ftp URL
    * with its default port; and plain junk that must come back NULL —
    * normalized by the [[Kernels.urlParts]] codegen kernel, with the oracle
    * recomputing every field from the same construction arithmetic.
    * One projection over the scan; at crawl scale `normalized` is the
    * dedup key and `host`/`apex` the politeness/group keys.
    */
  private val qUrlNormalize = Q("q_url_normalize",
    (s, dir) => {
      val id = col("doc_id")
      val k = pmod(id, lit(20)).cast("string")
      val m = pmod(id, lit(6))
      val url = when(m === 0, concat(lit("HTTP://Example"), k,
          lit(".COM:80/a/./b/../c?utm_source=x&b=2&a=1#frag")))
        .when(m === 1, concat(lit("https://Sub.Example"), k,
          lit(".com:8443/path/"), id.cast("string")))
        .when(m === 2, concat(lit("https://example"), k, lit(".com")))
        .when(m === 3, concat(lit("http://example"), k,
          lit(".com/%7euser/%2fdocs%zz")))
        .when(m === 4, concat(lit("ftp://files.example"), k,
          lit(".com:21/pub/data"), id.cast("string"), lit(".txt")))
        .otherwise(concat(lit("not a url "), id.cast("string")))
      val p = Kernels.urlParts(url)
      t(s, dir, "documents").select(
        id.cast("bigint").as("doc_id"),
        p.getField("normalized").as("normalized"),
        p.getField("scheme").as("scheme"),
        p.getField("host").as("host"),
        p.getField("port").cast("bigint").as("port"),
        p.getField("path").as("path"),
        p.getField("query").as("query"),
        p.getField("apex").as("apex"))
    },
    Some("""WITH u AS (
           |  SELECT doc_id, CAST(doc_id % 20 AS VARCHAR) AS k, doc_id % 6 AS m
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE m WHEN 0 THEN 'http://example' || k || '.com/a/c?a=1&b=2'
           |         WHEN 1 THEN 'https://sub.example' || k || '.com:8443/path/' || doc_id
           |         WHEN 2 THEN 'https://example' || k || '.com/'
           |         WHEN 3 THEN 'http://example' || k || '.com/~user/%2Fdocs%zz'
           |         WHEN 4 THEN 'ftp://files.example' || k || '.com/pub/data' || doc_id || '.txt'
           |         END AS normalized,
           |  CASE m WHEN 0 THEN 'http' WHEN 1 THEN 'https' WHEN 2 THEN 'https'
           |         WHEN 3 THEN 'http' WHEN 4 THEN 'ftp' END AS scheme,
           |  CASE m WHEN 0 THEN 'example' || k || '.com'
           |         WHEN 1 THEN 'sub.example' || k || '.com'
           |         WHEN 2 THEN 'example' || k || '.com'
           |         WHEN 3 THEN 'example' || k || '.com'
           |         WHEN 4 THEN 'files.example' || k || '.com' END AS host,
           |  CASE m WHEN 0 THEN 80 WHEN 1 THEN 8443 WHEN 2 THEN 443
           |         WHEN 3 THEN 80 WHEN 4 THEN 21 END::BIGINT AS port,
           |  CASE m WHEN 0 THEN '/a/c'
           |         WHEN 1 THEN '/path/' || doc_id
           |         WHEN 2 THEN '/'
           |         WHEN 3 THEN '/~user/%2Fdocs%zz'
           |         WHEN 4 THEN '/pub/data' || doc_id || '.txt' END AS path,
           |  CASE m WHEN 0 THEN 'a=1&b=2' END AS query,
           |  CASE m WHEN 0 THEN 'example' || k || '.com'
           |         WHEN 1 THEN 'example' || k || '.com'
           |         WHEN 2 THEN 'example' || k || '.com'
           |         WHEN 3 THEN 'example' || k || '.com'
           |         WHEN 4 THEN 'example' || k || '.com' END AS apex
           |FROM u""".stripMargin))

  /** Matroska/WebM + OGG triage under the oracle (r13): the EBML and
    * OGG arms of the codec-free routing tier, hash-verified the same
    * way the BMFF/WAV/FLAC/MP3 arms are — containers CONSTRUCTED
    * in-plan from doc_id arithmetic, parsed back by
    * [[Kernels.videoMeta]] / [[Kernels.audioMeta]], the oracle
    * recomputing every planted field. doc_id%5 picks the container:
    * 0 = WebM (power-of-two float Duration so the IEEE bits are hex
    * arithmetic, varying TrackEntry count), 1 = Matroska with an
    * UNKNOWN-SIZE Segment (the streamed-mux path), 2 = OGG Vorbis
    * (granule-declared sample count), 3 = OGG Opus (48 kHz granule
    * clock), 4 = junk → NULL; every 7th doc truncates to 10 bytes →
    * NULL. Video fields ride the EBML rows, audio fields the OGG rows
    * — both NULL on the other family, pinning that neither arm
    * misroutes the other's magic.
    */
  private val qContainerMeta = Q("q_container_meta",
    (s, dir) => {
      val id = col("doc_id")
      val m = pmod(id, lit(5))
      // EBML: duration 2^e as a float whose bits are (127+e)<<23
      val e = pmod(id, lit(8)).cast("int")
      val expBits = lit(127) + e
      val durHex = concat(h2(shiftright(expBits, 1)),
        h2(expBits.bitwiseAND(lit(1)) * 128), lit("0000"))
      val infoHex = concat(lit("1549A9668F" + "2AD7B184000F4240" + "448984"),
        durHex)
      val k = (pmod(id, lit(3)) + 1).cast("int")
      val tracksHex = concat(lit("1654AE6B"), h2(lit(0x80) + k * 5),
        array_join(array_repeat(lit("AE83D78101"), k), ""))
      val webmHex = concat(lit("1A45DFA3874282847765626D" + "18538067"),
        h2(lit(153) + k * 5), infoHex, tracksHex)
      val mkvHex = concat(lit("1A45DFA38B4282886D6174726F736B61" +
        "18538067" + "FF"), infoHex, tracksHex)
      // OGG: two pages (BOS id header + EOS data page carrying the
      // granule); page CRCs are zero — triage doesn't checksum
      val ch = (pmod(id, lit(2)) + 1).cast("int")
      def le3(g: Column): Column = concat(h2(g.bitwiseAND(lit(0xff))),
        h2(shiftright(g, 8).bitwiseAND(lit(0xff))),
        h2(shiftright(g, 16).bitwiseAND(lit(0xff))), lit("0000000000"))
      val gV = ((pmod(id, lit(100)) + 1) * 576).cast("int")
      val vorbisHex = concat(
        lit("4F676753" + "0002" + "0000000000000000" + "01000000" +
          "00000000" + "00000000" + "01" + "1E" + "01766F72626973" +
          "00000000"), h2(ch), lit("44AC0000" + "00" * 12 + "6601"),
        lit("4F676753" + "0004"), le3(gV),
        lit("01000000" + "01000000" + "00000000" + "01" + "14" + "5A" * 20))
      val gO = ((pmod(id, lit(50)) + 1) * 960).cast("int")
      val opusHex = concat(
        lit("4F676753" + "0002" + "0000000000000000" + "01000000" +
          "00000000" + "00000000" + "01" + "13" + "4F70757348656164" + "01"),
        h2(ch), lit("0000" + "80BB0000" + "0000" + "00"),
        lit("4F676753" + "0004"), le3(gO),
        lit("01000000" + "01000000" + "00000000" + "01" + "14" + "5A" * 20))
      val junkHex = lit("6E6F74206120636F6E7461696E65722E2E2E2E2E")
      val fullHex = when(m === 0, webmHex).when(m === 1, mkvHex)
        .when(m === 2, vorbisHex).when(m === 3, opusHex).otherwise(junkHex)
      val v = Kernels.videoMeta(col("blob"))
      val a = Kernels.audioMeta(col("blob"))
      truncatedBlob(t(s, dir, "documents").select(id, fullHex.as("hex")), 20)
        .select(id.cast("bigint").as("doc_id"),
          coalesce(v.getField("format"), a.getField("format")).as("format"),
          v.getField("timescale").cast("bigint").as("timescale"),
          v.getField("duration").cast("bigint").as("duration"),
          v.getField("n_tracks").cast("bigint").as("n_tracks"),
          a.getField("channels").cast("bigint").as("channels"),
          a.getField("sample_rate").cast("bigint").as("sample_rate"),
          a.getField("bits_per_sample").cast("bigint").as("bits_per_sample"),
          a.getField("n_frames").cast("bigint").as("n_frames"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id, doc_id % 5 AS m, doc_id % 7 = 0 AS tr
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE WHEN tr OR m = 4 THEN NULL
           |       WHEN m = 0 THEN 'webm' WHEN m = 1 THEN 'matroska'
           |       WHEN m = 2 THEN 'vorbis' ELSE 'opus' END AS format,
           |  CAST(CASE WHEN tr OR m >= 2 THEN NULL ELSE 1000 END AS BIGINT) AS timescale,
           |  CAST(CASE WHEN tr OR m >= 2 THEN NULL
           |       ELSE power(2, doc_id % 8) END AS BIGINT) AS duration,
           |  CAST(CASE WHEN tr OR m >= 2 THEN NULL
           |       ELSE doc_id % 3 + 1 END AS BIGINT) AS n_tracks,
           |  CAST(CASE WHEN tr OR m <= 1 OR m = 4 THEN NULL
           |       ELSE doc_id % 2 + 1 END AS BIGINT) AS channels,
           |  CAST(CASE WHEN tr OR m <= 1 OR m = 4 THEN NULL
           |       WHEN m = 2 THEN 44100 ELSE 48000 END AS BIGINT) AS sample_rate,
           |  CAST(CASE WHEN tr OR m <= 1 OR m = 4 THEN NULL
           |       ELSE 0 END AS BIGINT) AS bits_per_sample,
           |  CAST(CASE WHEN tr OR m <= 1 OR m = 4 THEN NULL
           |       WHEN m = 2 THEN (doc_id % 100 + 1) * 576
           |       ELSE (doc_id % 50 + 1) * 960 END AS BIGINT) AS n_frames
           |FROM p""".stripMargin))

  /** Robots (RFC 9309) corpus gate under the oracle (r13): per-host
    * robots.txt texts are CONSTRUCTED over the `nation` dimension (the
    * `*` group disallows /private with an anchored /private/ok$
    * carve-out and an anchored `*.tmp$` glob; odd hosts add a named `graftbot`
    * group that disallows only /tmp — so group selection flips real
    * decisions), URLs over `documents` (four path shapes, one host
    * with NO robots row pinning the default-allow). [[Robots.filter]]
    * evaluates agent `graftbot`: named-group selection, glob matching,
    * longest-pattern precedence with allow tie-break — and the oracle
    * recomputes every decision and winning rule arithmetically. Plan:
    * the corpus never shuffles — robots aggregate to one array row per
    * host, broadcast, and each URL decides in a projection.
    */
  private val qRobotsFilter = Q("q_robots_filter",
    (s, dir) => {
      val id = col("doc_id")
      val host = when(pmod(id, lit(11)) === 0, lit("norobots.com"))
        .otherwise(concat(lit("host"), pmod(id, lit(25)).cast("string"),
          lit(".com")))
      val pc = pmod(id, lit(4))
      val path = when(pc === 0, concat(lit("/public/a"), id.cast("string")))
        .when(pc === 1, lit("/private/doc"))
        .when(pc === 2, lit("/private/ok"))
        .otherwise(lit("/tmp/archive.tmp"))
      val urls = t(s, dir, "documents").select(id.cast("bigint").as("doc_id"),
        host.as("host"), path.as("path"))
      val base = "User-agent: *\nDisallow: /private\n" +
        "Allow: /private/ok$\nDisallow: /*.tmp$\n"
      val named = "User-agent: graftbot\nDisallow: /tmp\n"
      val robots = t(s, dir, "nation").select(
        concat(lit("host"), col("n_nationkey").cast("string"), lit(".com"))
          .as("rhost"),
        when(pmod(col("n_nationkey"), lit(2)) === 1, lit(base + named))
          .otherwise(lit(base)).as("rtext"))
      graft.operators.Robots
        .filter(urls, "host", "path", robots, "rhost", "rtext", "GraftBot")
        .select(col("doc_id"), col("host"), col("path"),
          col("allowed"), col("robots_rule"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id, doc_id % 25 AS h, (doc_id % 25) % 2 = 1 AS odd,
           |         doc_id % 11 = 0 AS nr, doc_id % 4 AS pc
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE WHEN nr THEN 'norobots.com'
           |       ELSE 'host' || h || '.com' END AS host,
           |  CASE pc WHEN 0 THEN '/public/a' || doc_id
           |       WHEN 1 THEN '/private/doc'
           |       WHEN 2 THEN '/private/ok'
           |       ELSE '/tmp/archive.tmp' END AS path,
           |  CASE WHEN nr THEN true
           |       WHEN pc = 1 THEN odd
           |       WHEN pc = 3 THEN false
           |       ELSE true END AS allowed,
           |  CASE WHEN nr THEN NULL
           |       WHEN pc = 1 AND NOT odd THEN '/private'
           |       WHEN pc = 2 AND NOT odd THEN '/private/ok$'
           |       WHEN pc = 3 AND odd THEN '/tmp'
           |       WHEN pc = 3 THEN '/*.tmp$'
           |       END AS robots_rule
           |FROM p""".stripMargin))

  /** The composed crawl front-end (r13): html_extract → C4 page gate →
    * robots gate → canonical-URL dedup, end-to-end in ONE query with
    * per-document routing reasons — the pipeline a crawl corpus
    * actually runs, proving the r13 operators compose. Pages/URLs are
    * constructed per doc_id (every 3rd page lacks sentences, every
    * 17th carries a lorem-ipsum block, every 7th lands on a
    * robots-disallowed path (7 is coprime with the quality moduli, so
    * the robots reason is actually reachable), URL keys collide mod 200 so the keep-first
    * dedup does real work); the oracle replays extraction, the C4 page
    * rules, the robots decision, and the min-doc_id winner per
    * canonical URL. Reasons are first-failing-stage:
    * quality → robots → dup_url → kept. Plan: one scan-stage
    * projection + a broadcast robots join + ONE key shuffle (the
    * dedup winner aggregation — partial-aggregated, key+id only).
    */
  private val qCrawlClean = Q("q_crawl_clean",
    (s, dir) => {
      val id = col("doc_id")
      val clean0 = regexp_replace(coalesce(col("text"), lit("")),
        "[<>&\\u00A0]", " ")
      val html = concat(
        lit("<html><body><p>"), clean0,
        when(pmod(id, lit(3)) === 0, lit(""))
          .otherwise(lit(" Enough sentences here. Good one! Done?")),
        lit("</p><script>junk</script>"),
        when(pmod(id, lit(17)) === 0, lit("<p>lorem ipsum</p>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      val text2 = Kernels.htmlExtract(html)
      val qualityOk = TF.c4Rules(text2).getField("keep")
      val host = concat(lit("host"), pmod(id, lit(25)).cast("string"),
        lit(".com"))
      val path = when(pmod(id, lit(7)) === 0, lit("/private/p"))
        .otherwise(concat(lit("/page/"), pmod(id, lit(40)).cast("string")))
      val rawUrl = concat(lit("HTTP://Host"), pmod(id, lit(25)).cast("string"),
        lit(".COM"), path)
      val base = t(s, dir, "documents").select(
        id.cast("bigint").as("doc_id"),
        qualityOk.as("quality_ok"),
        host.as("host"), path.as("path"),
        Kernels.urlParts(rawUrl).getField("normalized").as("url"))
      val robots = t(s, dir, "nation").select(
        concat(lit("host"), col("n_nationkey").cast("string"), lit(".com"))
          .as("rhost"),
        lit("User-agent: *\nDisallow: /private\n").as("rtext"))
      val gated = graft.operators.Robots
        .filter(base, "host", "path", robots, "rhost", "rtext", "graftbot")
      val winners = gated.where(col("quality_ok") && col("allowed"))
        .groupBy(col("url")).agg(min(col("doc_id")).as("wmin"))
      gated.join(winners, Seq("url"), "left").select(
        col("doc_id"), col("url"),
        when(!col("quality_ok"), lit("quality"))
          .when(!col("allowed"), lit("robots"))
          .when(col("wmin") =!= col("doc_id"), lit("dup_url"))
          .otherwise(lit("kept")).as("reason"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id,
           |         regexp_replace(coalesce(text, ''), '[<>&\x{00A0}]', ' ', 'g') AS cln
           |  FROM documents),
           |t2 AS (
           |  SELECT doc_id,
           |    trim(regexp_replace(regexp_replace(
           |        cln || CASE WHEN doc_id % 3 = 0 THEN ''
           |                    ELSE ' Enough sentences here. Good one! Done?' END,
           |        '[ \t\r]*\n[ \t\n\r]*', chr(10), 'g'),
           |      '[ \t\r]+', ' ', 'g'), ' ' || chr(10)) AS ptext,
           |    doc_id % 17 = 0 AS lorem_blk
           |  FROM c),
           |x AS (
           |  SELECT doc_id,
           |    CASE WHEN ptext = '' THEN CASE WHEN lorem_blk THEN 'lorem ipsum' ELSE '' END
           |         WHEN lorem_blk THEN ptext || chr(10) || 'lorem ipsum'
           |         ELSE ptext END AS text2
           |  FROM t2),
           |q AS (
           |  SELECT doc_id,
           |    len(regexp_extract_all(text2, '[.!?]+')) >= 3
           |      AND NOT contains(lower(text2), 'lorem ipsum')
           |      AND NOT contains(text2, '{') AS quality_ok,
           |    doc_id % 7 <> 0 AS robots_ok,
           |    'http://host' || doc_id % 25 || '.com' ||
           |      CASE WHEN doc_id % 7 = 0 THEN '/private/p'
           |           ELSE '/page/' || doc_id % 40 END AS url
           |  FROM x),
           |w AS (
           |  SELECT url, min(doc_id) AS wmin FROM q
           |  WHERE quality_ok AND robots_ok GROUP BY 1)
           |SELECT CAST(q.doc_id AS BIGINT) AS doc_id, q.url,
           |  CASE WHEN NOT quality_ok THEN 'quality'
           |       WHEN NOT robots_ok THEN 'robots'
           |       WHEN q.doc_id <> w.wmin THEN 'dup_url'
           |       ELSE 'kept' END AS reason
           |FROM q LEFT JOIN w ON q.url = w.url""".stripMargin))

  /** Ingest decode under the oracle (r13): blobs CONSTRUCTED per
    * doc_id — plain UTF-8, BOM'd UTF-8, UTF-8 with a planted invalid
    * 0xE9 byte (the classic mislabeled-latin-1 page → windows-1252
    * fallback), and BOM'd UTF-16LE — sniffed back by
    * [[Kernels.decodeText]]; the oracle recomputes text, encoding, and the
    * fallback byte count arithmetically (document text is stripped to
    * printable ASCII on both sides so the planted bytes are the only
    * non-ASCII). One codegen projection; fail-open by contract.
    */
  private val qTextDecode = Q("q_text_decode",
    (s, dir) => {
      val id = col("doc_id")
      val m = pmod(id, lit(9))
      val clean = regexp_replace(coalesce(col("text"), lit("")), "[^ -~]", "")
      // round 16: legacy-CJK hint lanes — constant pages with a
      // declared charset, encoded AT PLAN BUILD by the JVM charsets
      // the kernel decodes with (the oracle checks the decoded
      // constants, so encoder byte choices never matter), plus a
      // FALSE-hint lane whose bytes the declared charset rejects
      def hintedHex(family: String, text: String, cs: String): String = {
        val b = s"""<meta charset="$family">""".getBytes("US-ASCII") ++
          text.getBytes(cs)
        hexOf(b)
      }
      val sjisHex = hintedHex("shift_jis", "こんにちは世界", "windows-31j")
      val gbkHex = hintedHex("gbk", "你好世界", "GBK")
      val eucKrHex = hintedHex("euc-kr", "안녕하세요", "x-windows-949")
      val big5Hex = hintedHex("big5", "繁體中文", "Big5")
      val falseHex = hexOf(("""<meta charset="shift_jis">x"""
        .getBytes("US-ASCII") ++ Array(0xff.toByte, 0xff.toByte)))
      val blob = when(m === 0, encode(clean, "UTF-8"))
        .when(m === 1, concat(unhex(lit("EFBBBF")), encode(clean, "UTF-8")))
        .when(m === 2, concat(encode(clean, "UTF-8"), unhex(lit("E9"))))
        .when(m === 4, unhex(lit(sjisHex)))
        .when(m === 5, unhex(lit(gbkHex)))
        .when(m === 6, unhex(lit(eucKrHex)))
        .when(m === 7, unhex(lit(big5Hex)))
        .when(m === 8, unhex(lit(falseHex)))
        .otherwise(concat(unhex(lit("FFFE")), encode(clean, "UTF-16LE")))
      val d = Kernels.decodeText(blob)
      t(s, dir, "documents").select(id.cast("bigint").as("doc_id"),
        d.getField("text").as("text_out"),
        d.getField("encoding").as("encoding"),
        d.getField("n_fallback_bytes").cast("bigint").as("n_fallback_bytes"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id, doc_id % 9 AS m,
           |         regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') AS clean
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE WHEN m = 2 THEN clean || 'é'
           |       WHEN m = 4 THEN '<meta charset="shift_jis">こんにちは世界'
           |       WHEN m = 5 THEN '<meta charset="gbk">你好世界'
           |       WHEN m = 6 THEN '<meta charset="euc-kr">안녕하세요'
           |       WHEN m = 7 THEN '<meta charset="big5">繁體中文'
           |       WHEN m = 8 THEN '<meta charset="shift_jis">xÿÿ'
           |       ELSE clean END AS text_out,
           |  CASE WHEN m = 2 THEN 'windows-1252'
           |       WHEN m = 3 THEN 'utf-16le'
           |       WHEN m = 4 THEN 'shift_jis'
           |       WHEN m = 5 THEN 'gbk'
           |       WHEN m = 6 THEN 'euc-kr'
           |       WHEN m = 7 THEN 'big5'
           |       WHEN m = 8 THEN 'windows-1252'
           |       ELSE 'utf-8' END AS encoding,
           |  CAST(CASE WHEN m = 2 THEN 1 WHEN m = 8 THEN 2 ELSE 0
           |       END AS BIGINT) AS n_fallback_bytes
           |FROM p""".stripMargin))

  /** SQ8 scalar-quantization ANN (r13): the 4×-memory middle tier
    * between raw floats (q_ann_brute) and PQ codes (q_ann_ivfpq) — the
    * corpus travels the sweep as one byte per dimension, reconstructed
    * in-register for the cosine rank. Train (per-dim min/max, one
    * partial-aggregated pass) → encode → decode → rank, recall-gated
    * at 0.9 against the exact brute-force top-5 (quantization noise is
    * ≤ span/510 per dimension, so recall is ≈ 1.0 by construction on
    * any non-degenerate corpus). The oracle replays the ENTIRE chain —
    * stats, the affine encode with its exact clamp/floor arithmetic,
    * the inverse-affine decode, the ranking, and the recall gate —
    * sound because codes are integer-exact across engines (the same
    * double expressions in the same order) and cosine rides the
    * round(·,6) margin audited for the float ANN family.
    */
  private val qAnnSq8 = Q("q_ann_sq8",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 16)
      val out = Similarity.sq8TopK(emb, q, "embedding", "vec_id", k = 5)
      val truth = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
      Ops.recallGate(out, truth, Seq("query_id", "corpus_id"), floor = 0.9)
        .select(col("query_id").cast("bigint").as("query_id"),
          col("corpus_id").cast("bigint").as("corpus_id"),
          col("cosine"), col("rank").cast("bigint").as("rank"), col("recall"))
    },
    Some("""WITH c0 AS (
           |  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings WHERE embedding IS NOT NULL),
           |e AS (
           |  SELECT unnest(list_transform(v, (x, i) -> struct_pack(pos := i, x := x))) AS t
           |  FROM c0),
           |d AS (
           |  SELECT t.pos AS pos, min(t.x) AS mn, max(t.x) - min(t.x) AS sp
           |  FROM e GROUP BY 1),
           |dm AS (
           |  SELECT list(mn ORDER BY pos) AS mins, list(sp ORDER BY pos) AS spans
           |  FROM d),
           |enc AS (
           |  SELECT cid,
           |    list_transform(v, (x, i) ->
           |      CASE WHEN spans[i] <= 0 THEN 0.0
           |           ELSE least(255.0, greatest(0.0,
           |                  floor((x - mins[i]) * 255.0 / spans[i] + 0.5))) END) AS codes
           |  FROM c0, dm),
           |dec AS (
           |  SELECT cid,
           |    list_transform(codes, (cd, i) -> mins[i] + (cd * spans[i]) / 255.0) AS cv
           |  FROM enc, dm),
           |q AS (
           |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           |  FROM embeddings WHERE vec_id < 16 AND embedding IS NOT NULL),
           |sq AS (
           |  SELECT qid, cid, round(list_cosine_similarity(qv, cv), 6) AS cosine,
           |         row_number() OVER (PARTITION BY qid
           |           ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC, cid) AS rn
           |  FROM q, dec WHERE qid <> cid),
           |o AS (SELECT qid, cid, cosine, rn FROM sq WHERE rn <= 5),
           |tr AS (
           |  SELECT qid, cid FROM (
           |    SELECT q.qid, c0.cid,
           |           row_number() OVER (PARTITION BY q.qid
           |             ORDER BY round(list_cosine_similarity(q.qv, c0.v), 6) DESC, c0.cid) AS rn
           |    FROM q, c0 WHERE q.qid <> c0.cid) x WHERE rn <= 5),
           |rc AS (
           |  SELECT CAST(sum(CASE WHEN oo.cid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |           / count(*) AS recall_raw
           |  FROM tr LEFT JOIN (SELECT DISTINCT qid, cid FROM o) oo USING (qid, cid))
           |SELECT CAST(qid AS BIGINT) AS query_id, CAST(cid AS BIGINT) AS corpus_id,
           |       cosine, CAST(rn AS BIGINT) AS rank, round(recall_raw, 6) AS recall
           |FROM o, rc WHERE recall_raw >= 0.9""".stripMargin))

  /** Language-ID under the oracle (r13): [[TF.langIdHeuristic]]'s
    * stopword-vote argmax over every document, reported as a
    * (label, predicted) confusion table against the corpus's own
    * `lang` column — the accuracy-audit shape a routing pipeline runs.
    * The oracle replays tokenization, all four vote counts, and the
    * fixed-precedence argmax with DuckDB list lambdas, so the
    * heuristic's every decision is hash-verified, not just its
    * aggregate counts.
    */
  private val qLangId = Q("q_langid",
    (s, dir) => t(s, dir, "documents")
      .select(col("lang"),
        TF.langIdHeuristic(coalesce(col("text"), lit(""))).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).cast("bigint").as("n")),
    Some("""WITH tk AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN len(trim(lower(coalesce(text, '')))) = 0
           |         THEN CAST([] AS VARCHAR[])
           |         ELSE string_split_regex(trim(lower(coalesce(text, ''))),
           |                                 '[ \t\n\x0B\f\r]+') END AS t
           |  FROM documents),
           |v AS (
           |  SELECT lang,
           |    len(list_filter(t, x -> list_contains(
           |      ['the','a','an','and','of','to','in','is','it','that'], x))) AS en,
           |    len(list_filter(t, x -> list_contains(
           |      ['le','la','les','de','des','et','un','une','est','que'], x))) AS fr,
           |    len(list_filter(t, x -> list_contains(
           |      ['el','la','los','las','de','y','un','una','es','que'], x))) AS es,
           |    len(list_filter(t, x -> list_contains(
           |      ['der','die','das','und','ein','eine','ist','von','zu','mit'], x))) AS de
           |  FROM tk),
           |p AS (
           |  SELECT lang,
           |    CASE WHEN greatest(en, fr, es, de) = 0 THEN 'und'
           |         WHEN en = greatest(en, fr, es, de) THEN 'en'
           |         WHEN fr = greatest(en, fr, es, de) THEN 'fr'
           |         WHEN es = greatest(en, fr, es, de) THEN 'es'
           |         ELSE 'de' END AS predicted
           |  FROM v)
           |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
           |FROM p GROUP BY 1, 2""".stripMargin))

  /** Deterministic negative sampling under the oracle (r13): four
    * hash-derived negatives per anchor from the contiguous doc_id
    * domain — [[Ops.negativeSample]]'s draw is `h mod (n−1)` bumped
    * past the anchor, so the oracle replays every pair with the md5
    * arithmetic the sampling family already uses. Pure
    * projection + explode: no shuffle (plan-pinned).
    */
  private val qNegativeSample = Q("q_negative_sample",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // bounded: one scalar for the id-domain size
      Ops.negativeSample(docs, "doc_id", k = 4, n = n)
        .select(col("anchor_id").cast("bigint").as("anchor_id"),
          col("neg_rank").cast("bigint").as("neg_rank"),
          col("neg_id").cast("bigint").as("neg_id"))
    },
    Some("""WITH nn AS (SELECT count(*) AS n FROM documents),
           |a AS (SELECT doc_id, unnest(range(0, 4)) AS j FROM documents),
           |h AS (
           |  SELECT a.doc_id, a.j,
           |         ('0x' || substr(md5(a.doc_id || ':neg:' || a.j), 1, 15))::BIGINT
           |           % (nn.n - 1) AS draw
           |  FROM a, nn)
           |SELECT CAST(doc_id AS BIGINT) AS anchor_id,
           |       CAST(j AS BIGINT) AS neg_rank,
           |       CAST(draw + CASE WHEN draw >= doc_id THEN 1 ELSE 0 END
           |            AS BIGINT) AS neg_id
           |FROM h""".stripMargin))

  /** PSI drift monitoring under the oracle (r13):
    * [[graft.operators.Evaluation.psiReport]] between the documents
    * length distribution and a CONSTRUCTED drifted snapshot (every 3rd
    * doc dropped, lengths shifted +120 — a selection bias plus a
    * distribution shift, the two failure modes the monitor exists to
    * catch). The oracle replays base-grid binning, the ε-floored
    * fractions, every per-bin (p−q)·ln(p/q) contribution, and the
    * total — drift measured, not asserted.
    */
  private val qDriftPsi = Q("q_drift_psi",
    (s, dir) => {
      val base = t(s, dir, "documents").select(col("n_chars"))
      val cur = t(s, dir, "documents")
        .where(pmod(col("doc_id"), lit(3)) =!= 0)
        .select((col("n_chars") + lit(120)).as("n_chars"))
      graft.operators.Evaluation.psiReport(base, cur, "n_chars", bins = 10)
    },
    Some("""WITH st AS (
           |  SELECT min(CAST(n_chars AS DOUBLE)) AS mn,
           |         max(CAST(n_chars AS DOUBLE)) AS mx
           |  FROM documents WHERE n_chars IS NOT NULL),
           |b AS (
           |  SELECT CASE WHEN st.mx = st.mn THEN 0
           |         ELSE least(9, greatest(0, CAST(floor(
           |           (CAST(n_chars AS DOUBLE) - st.mn) / ((st.mx - st.mn) / 10))
           |           AS BIGINT))) END AS bin, count(*) AS bc
           |  FROM documents, st WHERE n_chars IS NOT NULL GROUP BY 1),
           |c AS (
           |  SELECT CASE WHEN st.mx = st.mn THEN 0
           |         ELSE least(9, greatest(0, CAST(floor(
           |           (CAST(n_chars + 120 AS DOUBLE) - st.mn) / ((st.mx - st.mn) / 10))
           |           AS BIGINT))) END AS bin, count(*) AS cc
           |  FROM documents, st WHERE doc_id % 3 <> 0 AND n_chars IS NOT NULL
           |  GROUP BY 1),
           |j AS (
           |  SELECT coalesce(b.bin, c.bin) AS bin,
           |         coalesce(b.bc, 0) AS bc, coalesce(c.cc, 0) AS cc
           |  FROM b FULL OUTER JOIN c ON b.bin = c.bin),
           |t AS (SELECT sum(bc) AS bt, sum(cc) AS ct FROM j),
           |sc AS (
           |  SELECT bin,
           |         greatest(CAST(bc AS DOUBLE) / CAST(bt AS DOUBLE), 1e-6) AS p,
           |         greatest(CAST(cc AS DOUBLE) / CAST(ct AS DOUBLE), 1e-6) AS q
           |  FROM j, t),
           |sc2 AS (SELECT bin, p, q, (p - q) * ln(p / q) AS contrib FROM sc),
           |tot AS (SELECT sum(contrib) AS psi FROM sc2)
           |SELECT CAST(bin AS BIGINT) AS bin, round(p, 6) AS base_frac,
           |       round(q, 6) AS cur_frac, round(contrib, 6) AS psi_contrib,
           |       round(psi, 6) AS psi_total
           |FROM sc2, tot""".stripMargin))

  /** Hyperlink extraction under the oracle (r13): [[Kernels.htmlLinks]]
    * over in-plan pages carrying five link shapes per document —
    * double-quoted absolute (with `&amp;` entity in the query string),
    * unquoted relative, single-quoted with an uppercase HREF, an
    * `<area>`, and an href behind a quoted-`>` attribute — plus a
    * comment link and a script-string link that must NOT surface. The
    * oracle recomputes all five positions arithmetically, so document
    * order, quote styles, entity decoding, and the skip contexts are
    * hash-verified per row. One projection + explode; with url_parts
    * and the robots gate this closes the frontier loop (extract →
    * canonicalize → gate → dedup).
    */
  private val qLinkExtract = Q("q_link_extract",
    (s, dir) => {
      val id = col("doc_id")
      val k = pmod(id, lit(20)).cast("string")
      val idS = id.cast("string")
      val html = concat(
        lit("<html><body><p>text "),
        lit("<a href=\"https://h"), k, lit(".example.com/p/"), idS,
        lit("?a=1&amp;b=2\">abs</a> "),
        lit("<!-- <a href=\"/no1\"> -->"),
        lit("<a href=/rel/"), idS, lit(">r</a> "),
        lit("<script>var s = '<a href=\"/no2\">';</script>"),
        lit("<A HREF='/single/"), idS, lit("'>s</A>"),
        lit("<area href=\"#frag\">"),
        lit("<a class=\"k\" title=\"x>y\" href=\"/titled/"), idS,
        lit("\">t</a></p></body></html>"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"),
          posexplode(Kernels.htmlLinks(html)).as(Seq("pos", "link")))
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"),
          col("link"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id, CAST(doc_id % 20 AS VARCHAR) AS k FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(j AS BIGINT) AS pos,
           |  CASE j
           |    WHEN 0 THEN 'https://h' || k || '.example.com/p/' || doc_id || '?a=1&b=2'
           |    WHEN 1 THEN '/rel/' || doc_id
           |    WHEN 2 THEN '/single/' || doc_id
           |    WHEN 3 THEN '#frag'
           |    ELSE '/titled/' || doc_id END AS link
           |FROM p CROSS JOIN (SELECT unnest(range(0, 5)) AS j) u""".stripMargin))

  /** The frontier micro-pipeline composed end-to-end (r13):
    * [[Kernels.htmlLinks]] → [[Kernels.urlResolve]] (RFC 3986 §5.2) →
    * [[Kernels.urlParts]] canonicalization, over the same five-link pages
    * as q_link_extract with a MIXED-CASE base URL — so relative hrefs
    * resolve against the page URL and come out canonical (lowercased
    * host), the absolute link passes through, and the same-document
    * `#frag` link resolves back to the (fragment-free) page itself.
    * One projection + explode; the oracle recomputes every resolved
    * canonical URL arithmetically.
    */
  private val qFrontierLinks = Q("q_frontier_links",
    (s, dir) => {
      val id = col("doc_id")
      val k = pmod(id, lit(20)).cast("string")
      val idS = id.cast("string")
      val html = concat(
        lit("<html><body><p>text "),
        lit("<a href=\"https://h"), k, lit(".example.com/p/"), idS,
        lit("?a=1&amp;b=2\">abs</a> "),
        lit("<!-- <a href=\"/no1\"> -->"),
        lit("<a href=/rel/"), idS, lit(">r</a> "),
        lit("<script>var s = '<a href=\"/no2\">';</script>"),
        lit("<A HREF='/single/"), idS, lit("'>s</A>"),
        lit("<area href=\"#frag\">"),
        lit("<a class=\"k\" title=\"x>y\" href=\"/titled/"), idS,
        lit("\">t</a></p></body></html>"))
      val pageUrl = concat(lit("https://Base"), k,
        lit(".example.com/dir/page.html"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), pageUrl.as("__base"),
          posexplode(Kernels.htmlLinks(html)).as(Seq("pos", "__href")))
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"),
          Kernels.urlParts(Kernels.urlResolve(col("__base"), col("__href")))
            .getField("normalized").as("url"))
    },
    Some("""WITH p AS (
           |  SELECT doc_id, CAST(doc_id % 20 AS VARCHAR) AS k FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(j AS BIGINT) AS pos,
           |  CASE j
           |    WHEN 0 THEN 'https://h' || k || '.example.com/p/' || doc_id || '?a=1&b=2'
           |    WHEN 1 THEN 'https://base' || k || '.example.com/rel/' || doc_id
           |    WHEN 2 THEN 'https://base' || k || '.example.com/single/' || doc_id
           |    WHEN 3 THEN 'https://base' || k || '.example.com/dir/page.html'
           |    ELSE 'https://base' || k || '.example.com/titled/' || doc_id
           |    END AS url
           |FROM p CROSS JOIN (SELECT unnest(range(0, 5)) AS j) u""".stripMargin))

  /** WARC ingest under the oracle (r13): a two-record WARC archive
    * (warcinfo + an HTTP response whose body is an HTML page built
    * from the document text) is CONSTRUCTED in-plan per doc — with
    * Content-Length computed from the actual payload bytes — then
    * pulled back through the FULL ingest chain:
    * [[Kernels.warcRecords]] → [[Kernels.httpParts]] →
    * [[Kernels.decodeText]] → [[Kernels.htmlExtract]]. The oracle recomputes
    * record count, target URI, HTTP status, and the extracted text
    * arithmetically; every 7th doc truncates the archive and must come
    * back NULL (the fail-closed whole-blob contract). Round 14: the
    * response body rotates identity / `Transfer-Encoding: chunked`
    * (extension + trailer shapes included) / `Content-Encoding: gzip`
    * framings by doc_id%3 — httpParts must decode all three to the
    * identity representation before the text chain sees them. This is
    * the CommonCrawl ingest shape end to end, one projection + explode.
    */
  private val qWarcIngest = Q("q_warc_ingest",
    (s, dir) => {
      val id = col("doc_id")
      val k = pmod(id, lit(20)).cast("string")
      val clean = regexp_replace(coalesce(col("text"), lit("")),
        "[<>&\\u00A0]", " ")
      val rest = concat(clean, lit("</p><script>x<y</script></body></html>"))
      val html = concat(lit("<html><body><p>"), rest)
      // round 14: three body framings, same decoded representation.
      //  id%3==0: identity — body bytes are the page
      //  id%3==1: Transfer-Encoding chunked — two chunks (the 15-byte
      //           ASCII prefix, hex size "f" WITH a chunk extension,
      //           then the variable remainder with an in-plan hex
      //           size), a trailer header after the 0-chunk
      //  id%3==2: Content-Encoding gzip — a fixed page gzipped at plan
      //           build (the oracle checks the DECODED text, so JDK
      //           deflate byte choices never matter)
      val identityPayload = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html)
      val chunkedPayload = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n"),
        lit("f;x=graft\r\n<html><body><p>\r\n"),
        lower(hex(length(encode(rest, "UTF-8")))), lit("\r\n"), rest,
        lit("\r\n0\r\nX-Digest: none\r\n\r\n"))
      val gzPage = "<html><body><p>gzip body roundtrip ok</p></body></html>"
      val gzHex = {
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(gzPage.getBytes("UTF-8")); g.close()
        hexOf(bos.toByteArray)
      }
      val gzPayloadBin = concat(
        encode(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Content-Encoding: gzip\r\n\r\n"), "UTF-8"),
        unhex(lit(gzHex)))
      //  id%4==3 (round 16): Content-Encoding br — a REAL RFC 7932
      //  stream (a fixed page compressed by the reference encoder at
      //  q=11, pinned as hex) decoded through BrotliKernels like the
      //  gzip lane; the oracle checks the DECODED text, so the
      //  encoder's byte choices never matter
      val brPage = "<html><body><p>brotli body roundtrip ok</p></body></html>"
      val brHex = "1b3800e82d8ec7ed57e3a831341c1fa1d29b278ded4dc2adbd148f" +
        "5881d0958f1c6cc0017b3da00c78092cf58f5115978e333172f013b3849bc3134c"
      locally { // fixture honesty: the pinned hex must decode to brPage
        val got = graft.functions.BrotliKernels.decompress(
          brHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
        require(got != null && new String(got, "UTF-8") == brPage,
          "pinned brotli fixture does not decode to its page")
      }
      val brPayloadBin = concat(
        encode(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Content-Encoding: br\r\n\r\n"), "UTF-8"),
        unhex(lit(brHex)))
      //  id%5==4 (round 17): Content-Encoding x-compress — a REAL
      //  block-mode LZW .Z stream (LzwKernels.compress output is
      //  pinned decodable by gzip AND libarchive in LzwSpec) decoded
      //  through LzwKernels like the gzip/br lanes; the x- alias form
      //  exercises the RFC 9110 alias
      val czPage = "<html><body><p>lzw body roundtrip ok</p></body></html>"
      val czHex = hexOf(graft.functions.LzwKernels
        .compress(czPage.getBytes("UTF-8")))
      val czPayloadBin = concat(
        encode(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Content-Encoding: x-compress\r\n\r\n"), "UTF-8"),
        unhex(lit(czHex)))
      val m5 = pmod(id, lit(5))
      val httpPayloadBin = when(m5 === 2, gzPayloadBin)
        .when(m5 === 1, encode(chunkedPayload, "UTF-8"))
        .when(m5 === 3, brPayloadBin)
        .when(m5 === 4, czPayloadBin)
        .otherwise(encode(identityPayload, "UTF-8"))
      val infoPayload = lit("software: graft\r\n")
      // binary record framing: Content-Length counts PAYLOAD BYTES, so
      // the gzip branch's binary body frames exactly
      def record(hdr: Column, payloadBin: Column): Column = concat(
        encode(concat(hdr, lit("Content-Length: "),
          length(payloadBin).cast("string"), lit("\r\n\r\n")), "UTF-8"),
        payloadBin, encode(lit("\r\n\r\n"), "UTF-8"))
      val warc = concat(
        record(lit("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
          "Content-Type: application/warc-fields\r\n"),
          encode(infoPayload, "UTF-8")),
        record(concat(lit("WARC/1.1\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: https://h"), k, lit(".example.com/p/"),
          id.cast("string"),
          lit("\r\nContent-Type: application/http;msgtype=response\r\n")),
          httpPayloadBin))
      // round 15: every 5th doc ships the ARCHIVE as .warc.zst (a real
      // RFC 8878 store frame built in-plan, layered so length(warc) is
      // computed once) — the decode is output-invisible, so the oracle
      // is untouched while the zstd ingest path runs under it
      val zwrap = pmod(id, lit(5)) === 2
      val blob = when(pmod(id, lit(7)) === 0,
        substring(warc, 1, 40)).otherwise(warc)
      val base = t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), zwrap.as("__zw"),
          blob.as("__blob"))
        .select(col("doc_id"),
          when(col("__zw"), zstdStoreFrameCol(col("__blob")))
            .otherwise(col("__blob")).as("__b"))
      val recs2 = Kernels.warcRecords(col("__b"))
      val resp2 = element_at(recs2, 2)
      val hp2 = Kernels.httpParts(resp2.getField("payload"))
      val ext2 = Kernels.htmlExtract(Kernels.decodeText(hp2.getField("body"))
        .getField("text"))
      base.select(col("doc_id"),
        size(recs2).cast("bigint").as("n_records"),
        resp2.getField("target_uri").as("uri"),
        hp2.getField("status").cast("bigint").as("status"),
        ext2.as("extracted"),
        hp2.getField("encoding_undecoded").as("undecoded"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, CAST(doc_id % 20 AS VARCHAR) AS k,
           |         doc_id % 7 = 0 AS tr, doc_id % 5 AS m5,
           |         regexp_replace(coalesce(text, ''), '[<>&\x{00A0}]', ' ', 'g') AS cln
           |  FROM documents),
           |e AS (
           |  SELECT doc_id, k, tr, m5,
           |         trim(
           |           regexp_replace(
           |             regexp_replace(cln, '[ \t\r]*\n[ \t\n\r]*', chr(10), 'g'),
           |             '[ \t\r]+', ' ', 'g'),
           |           ' ' || chr(10)) AS core
           |  FROM c)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CAST(CASE WHEN tr THEN NULL ELSE 2 END AS BIGINT) AS n_records,
           |  CASE WHEN tr THEN NULL
           |       ELSE 'https://h' || k || '.example.com/p/' || doc_id END AS uri,
           |  CAST(CASE WHEN tr THEN NULL ELSE 200 END AS BIGINT) AS status,
           |  CASE WHEN tr THEN NULL
           |       WHEN m5 = 2 THEN 'gzip body roundtrip ok'
           |       WHEN m5 = 3 THEN 'brotli body roundtrip ok'
           |       WHEN m5 = 4 THEN 'lzw body roundtrip ok'
           |       ELSE core END AS extracted,
           |  CAST(NULL AS VARCHAR) AS undecoded
           |FROM e""".stripMargin))

  /** Language-ID MODEL under the oracle (r14): the r13 q_langid audit
    * honestly showed the stopword heuristic reads the synthetic corpus
    * as English under every label — it cannot power a mixture
    * pipeline. This is the fastText-recipe upgrade on the
    * deterministic trainer: a MULTI-SCRIPT fixture (en/fr Latin, ru
    * Cyrillic, el Greek — deterministic 12-word sentences from
    * per-language vocabularies), hashed char-trigram presence
    * features, one [[Classifier]] delta-rule chain per language
    * (one-vs-rest, bit-identical weights), argmax scoring of the
    * held-out split as ONE codegen projection, confusion table out —
    * with the heuristic's accuracy on the SAME split beside it and an
    * in-plan gate `model_acc > heur_acc`, so the claimed upgrade is
    * measured, not asserted (the heuristic scores ~0.5 here: ru/el
    * have zero stopword hits and fall to 'und'). The oracle replays
    * fixture, dictionary hash, all four training chains, both
    * predictors, and the gate.
    */
  private val qLangIdModel = Q("q_langid_model",
    (s, dir) => {
      val id = col("doc_id")
      val langs = Seq("en", "fr", "ru", "el")
      val vocab = Seq(
        Seq("the", "and", "of", "to", "house", "water", "bread", "good"),
        Seq("le", "la", "les", "des", "maison", "eau", "pain", "bon"),
        Seq("дом", "вода", "хлеб", "и", "не", "хорошо", "день", "утро"),
        Seq("και", "το", "νερό", "ψωμί", "σπίτι", "καλό", "ημέρα", "δεν"))
      val (buckets, iters, lr, nWords, gramN) = (256, 4, 2.0, 12, 3)
      val li = pmod(id, lit(langs.size))
      val lang = element_at(typedlit(langs), (li + 1).cast("int"))
      val words = (0 until nWords).map { i =>
        element_at(element_at(
          typedlit(vocab.map(_.toIndexedSeq).toIndexedSeq), (li + 1).cast("int")),
          (pmod(id * 31 + lit(i * 7), lit(vocab.head.size)) + 1).cast("int"))
      }
      val fixture = t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), lang.as("lang"),
          concat_ws(" ", words: _*).as("text"))
      val hist = fixture.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val eval = fixture.filter(pmod(col("doc_id"), lit(3)) === 0)
      val frame = Classifier
        .perDocCharFeatures(hist, "text", "doc_id", col("lang"), buckets, gramN)
        .repartition(graft.operators.KMeans.LoopPartitions, col("__id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ws =
        try Classifier.trainLangId(frame, langs, buckets, iters, lr)
        finally frame.unpersist(blocking = false)
      val scored = eval.select(col("lang"),
        Classifier.langIdPredictCol(
          Classifier.charBucketSet(col("text"), buckets, gramN), langs, ws)
          .as("predicted"),
        TF.langIdHeuristic(col("text")).as("__heur"))
      val acc = scored.agg(
        round(avg((col("predicted") === col("lang")).cast("double")), 6)
          .as("model_acc"),
        round(avg((col("__heur") === col("lang")).cast("double")), 6)
          .as("heur_acc"))
      scored.groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).cast("bigint").as("n"))
        .crossJoin(broadcast(acc))
        .filter(col("model_acc") > col("heur_acc"))
    },
    Some(OracleSqlGen.langIdModel(256, 4, "2.0",
      Seq("en", "fr", "ru", "el"),
      Seq(
        Seq("the", "and", "of", "to", "house", "water", "bread", "good"),
        Seq("le", "la", "les", "des", "maison", "eau", "pain", "bon"),
        Seq("дом", "вода", "хлеб", "и", "не", "хорошо", "день", "утро"),
        Seq("και", "το", "νερό", "ψωμί", "σπίτι", "καλό", "ημέρα", "δεν")),
      nWords = 12, gramN = 3)))

  /** ZIP ingest under the oracle (r14): a complete two-entry STORED
    * archive — local headers, central directory, EOCD, with real CRC32
    * fields (Spark's own `crc32` over the per-doc content) and real
    * little-endian offsets computed in-plan — is constructed per doc
    * and pulled back through [[Kernels.zipEntries]] +
    * [[Kernels.zipExtract]] (listing, extraction, CRC+size verify,
    * missing-name NULL). Every 5th doc instead carries a DEFLATED
    * archive built by the JDK's ZipOutputStream at plan build (data
    * descriptors, real deflate — the wild shape); every 9th truncates
    * and must come back all-NULL. The oracle recomputes the listing
    * and decoded text arithmetically.
    */
  private val qZipExtract = Q("q_zip_extract",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val word = element_at(typedlit(Seq("alpha", "beta", "gamma")),
        (pmod(id, lit(3)) + 1).cast("int"))
      def le16(v: Column): Column = {
        val h = lpad(hex(v), 4, "0")
        unhex(concat(substring(h, 3, 2), substring(h, 1, 2)))
      }
      def le32(v: Column): Column = {
        val h = lpad(hex(v), 8, "0")
        unhex(concat(substring(h, 7, 2), substring(h, 5, 2),
          substring(h, 3, 2), substring(h, 1, 2)))
      }
      // LAYERED construction: every reused piece (contents, CRCs,
      // local headers, directory) is a NAMED column in its own
      // projection. Inlined, le32(crc32(content)) expands the CRC —
      // and the content encode under it — once per byte, the plan
      // string hits ~200 KB, codegen falls interpreted, and the query
      // measured 16.8 s instead of ~1 s at sf0.1. CollapseProject
      // keeps multi-referenced non-cheap aliases in place.
      def lfh(name: String, c: Column, r: Column, sz: Column): Column = concat(
        unhex(lit("504b0304")), le16(lit(20)), le16(lit(0)), le16(lit(0)),
        le16(lit(0)), le16(lit(0)), le32(r), le32(sz), le32(sz),
        le16(lit(name.length)), le16(lit(0)), encode(lit(name), "UTF-8"), c)
      def cdr(name: String, r: Column, sz: Column, off: Column): Column = concat(
        unhex(lit("504b0102")), le16(lit(20)), le16(lit(20)), le16(lit(0)),
        le16(lit(0)), le16(lit(0)), le16(lit(0)), le32(r), le32(sz), le32(sz),
        le16(lit(name.length)), le16(lit(0)), le16(lit(0)), le16(lit(0)),
        le16(lit(0)), le32(lit(0)), le32(off), encode(lit(name), "UTF-8"))
      val deflHex = hexOf(zipArchive("d.txt" -> "deflated entry payload"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"),
          pmod(id, lit(5)).as("__m5"), (pmod(id, lit(9)) === 0).as("__tr"),
          encode(concat(lit("zip doc "), idS, lit(" says "), word), "UTF-8")
            .as("__c1"),
          encode(lit("generator=graft r14"), "UTF-8").as("__c2"))
        .select(col("*"),
          crc32(col("__c1")).as("__r1"), length(col("__c1")).as("__s1"),
          crc32(col("__c2")).as("__r2"), length(col("__c2")).as("__s2"))
        .select(col("doc_id"), col("__m5"), col("__tr"),
          col("__r1"), col("__s1"), col("__r2"), col("__s2"),
          lfh("doc.txt", col("__c1"), col("__r1"), col("__s1")).as("__l1"),
          lfh("meta/info.txt", col("__c2"), col("__r2"), col("__s2")).as("__l2"))
        .select(col("doc_id"), col("__m5"), col("__tr"), col("__l1"), col("__l2"),
          concat(
            cdr("doc.txt", col("__r1"), col("__s1"), lit(0)),
            cdr("meta/info.txt", col("__r2"), col("__s2"), length(col("__l1"))))
            .as("__cd"))
        .select(col("doc_id"), col("__m5"), col("__tr"),
          concat(col("__l1"), col("__l2"), col("__cd"),
            unhex(lit("504b0506")), le16(lit(0)), le16(lit(0)),
            le16(lit(2)), le16(lit(2)), le32(length(col("__cd"))),
            le32(length(col("__l1")) + length(col("__l2"))), le16(lit(0)))
            .as("__stored"))
        .select(col("doc_id"), col("__m5"), col("__tr"),
          when(col("__m5") === 2, unhex(lit(deflHex)))
            .otherwise(col("__stored")).as("__b0"))
        .select(col("doc_id"), col("__m5"),
          when(col("__tr"), substring(col("__b0"), 1, 40))
            .otherwise(col("__b0")).as("__zip"))
        .select(col("doc_id"), col("__m5"), col("__zip"),
          Kernels.zipEntries(col("__zip")).as("__es"))
        .select(col("doc_id"),
          size(col("__es")).cast("bigint").as("n_entries"),
          element_at(col("__es"), 1).getField("name").as("name0"),
          element_at(col("__es"), 1).getField("size").cast("bigint").as("size0"),
          decode(Kernels.zipExtract(col("__zip"),
            when(col("__m5") === 2, lit("d.txt")).otherwise(lit("doc.txt"))),
            "UTF-8").as("text"),
          Kernels.zipExtract(col("__zip"), lit("no/such/entry")).isNull
            .as("missing_is_null"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, doc_id % 9 = 0 AS tr, doc_id % 5 = 2 AS dfl,
           |         ['alpha','beta','gamma'][CAST(doc_id % 3 AS INT) + 1] AS word
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CAST(CASE WHEN tr THEN NULL WHEN dfl THEN 1 ELSE 2 END AS BIGINT) AS n_entries,
           |  CASE WHEN tr THEN NULL WHEN dfl THEN 'd.txt' ELSE 'doc.txt' END AS name0,
           |  CAST(CASE WHEN tr THEN NULL WHEN dfl THEN 22
           |       ELSE length('zip doc ' || doc_id || ' says ' || word) END AS BIGINT) AS size0,
           |  CASE WHEN tr THEN NULL WHEN dfl THEN 'deflated entry payload'
           |       ELSE 'zip doc ' || doc_id || ' says ' || word END AS text,
           |  true AS missing_is_null
           |FROM c""".stripMargin))

  /** Unified binary ingestion ROUTER under the oracle (r14): a mixed
    * blob corpus (PDF / ZIP / TAR / gzip / PNG / WAV / Avro rotating
    * by doc, plus undecodable junk) routed by MAGIC dispatch first —
    * exactly ONE triage kernel runs per row, inside its CASE branch —
    * kind = the magic's claim only when that kernel vouches for the
    * blob, detail = the kind's headline metadatum. This is the first
    * operator a 100 TB drop hits: one projection decides which decode
    * budget each blob deserves, fail-closed blobs route to 'unknown'
    * instead of crashing a lane. The oracle replays the routing table
    * arithmetically.
    */
  /** Legacy .doc text under the oracle (round 16): REAL v3 compound
    * files from the in-repo CFB writer — full header/FAT/directory/
    * miniFAT framing — with the doc_id SPLICED into a fixed-width slot
    * of the WordDocument text region in-plan (the container layout is
    * length-invariant, so one driver-built template serves every doc).
    * Six lanes: windows-1252 text (+ a 1Table sibling stream), UTF-16
    * text, fComplex refusal, fEncrypted refusal, non-CFB junk, and a
    * truncated container — the refusal lanes come back NULL with the
    * directory listing intact where the container survives. */
  private val qDocText = Q("q_doc_text",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(6))
      val marker = "0000000"
      // splice `repl` (7 chars, fixed width) over the marker bytes
      def splice(blob: Array[Byte], needle: Array[Byte],
                 repl: Column): Column = {
        val at = blob.indexOfSlice(needle)
        require(at >= 0 &&
          blob.indexOfSlice(needle, at + 1) < 0, "marker not unique")
        concat(unhex(lit(hexOf(blob.take(at)))), repl,
          unhex(lit(hexOf(blob.drop(at + needle.length)))))
      }
      import graft.functions.CfbKernels
      val doc1252 = CfbKernels.buildDoc(
        s"legacy doc $marker body\rpara two", unicode = false,
        extra = Seq("1Table" -> Array.fill[Byte](48)(3)))
      val docU = CfbKernels.buildDoc(s"unicode δoc $marker ✓", unicode = true)
      val docC = CfbKernels.buildDoc("x", unicode = false, complex = true)
      val docE = CfbKernels.buildDoc("x", unicode = false, encrypted = true)
      val pad7 = lpad(idS, 7, "0")
      val d0 = splice(doc1252,
        marker.getBytes(java.nio.charset.Charset.forName("windows-1252")),
        encode(pad7, "ISO-8859-1"))
      val d1 = splice(docU,
        marker.getBytes(java.nio.charset.StandardCharsets.UTF_16LE),
        encode(pad7, "UTF-16LE"))
      val blob = when(m === 0, d0)
        .when(m === 1, d1)
        .when(m === 2, unhex(lit(hexOf(docC))))
        .when(m === 3, unhex(lit(hexOf(docE))))
        .when(m === 4, encode(concat(lit("not a doc "), idS), "UTF-8"))
        .otherwise(unhex(lit(hexOf(doc1252.take(300)))))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"),
          size(Kernels.cfbEntries(col("__b"))).cast("bigint").as("n_entries"),
          Kernels.docText(col("__b")).as("text"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CAST(CASE doc_id % 6
           |    WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 2
           |    ELSE NULL END AS BIGINT) AS n_entries,
           |  CASE doc_id % 6
           |    WHEN 0 THEN 'legacy doc ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |                || ' body' || chr(10) || 'para two'
           |    WHEN 1 THEN 'unicode δoc ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |                || ' ✓'
           |    ELSE NULL END AS text
           |FROM documents""".stripMargin))

  /** Legacy .ppt slide text under the oracle (round 17, VERDICT r16
    * #3): REAL record trees (Document container → SlideListWithText →
    * text atoms) in REAL CFB containers from the in-repo writers, with
    * the doc_id SPLICED into a fixed-width slot of a text atom
    * in-plan. Six lanes: a UTF-16 TextCharsAtom deck (CR/VT
    * normalization exercised), a latin-1 TextBytesAtom deck, a
    * CryptSession10 encrypted deck (refused with the container listing
    * intact), non-CFB junk, a truncated container, and a
    * nested-container deck — the q_doc_text contract on the third
    * Office lane. */
  private val qPptText = Q("q_ppt_text",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(6))
      val marker = "0000000"
      def splice(blob: Array[Byte], needle: Array[Byte],
                 repl: Column): Column = {
        val at = blob.indexOfSlice(needle)
        require(at >= 0 &&
          blob.indexOfSlice(needle, at + 1) < 0, "marker not unique")
        concat(unhex(lit(hexOf(blob.take(at)))), repl,
          unhex(lit(hexOf(blob.drop(at + needle.length)))))
      }
      import graft.functions.PptKernels
      val deckU = PptKernels.build(
        PptKernels.textChars(s"Deck δ $marker ✓"),
        PptKernels.textChars("line one\rline\u000Btwo"))
      val deckB = PptKernels.build(
        PptKernels.textBytes(s"bytes $marker deck"),
        PptKernels.textBytes("tail"))
      val deckE = PptKernels.build(
        PptKernels.textBytes("secret"), PptKernels.cryptSession())
      val deckN = PptKernels.build(
        PptKernels.container(0x03EE,
          PptKernels.container(0x0FC8, PptKernels.textBytes("deep text"))),
        PptKernels.textChars("after"))
      val pad7 = lpad(idS, 7, "0")
      val d0 = splice(deckU,
        marker.getBytes(java.nio.charset.StandardCharsets.UTF_16LE),
        encode(pad7, "UTF-16LE"))
      val d1 = splice(deckB, marker.getBytes("ISO-8859-1"),
        encode(pad7, "ISO-8859-1"))
      val blob = when(m === 0, d0)
        .when(m === 1, d1)
        .when(m === 2, unhex(lit(hexOf(deckE))))
        .when(m === 3, encode(concat(lit("not a ppt "), idS), "UTF-8"))
        .when(m === 4, unhex(lit(hexOf(deckU.take(400)))))
        .otherwise(unhex(lit(hexOf(deckN))))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"),
          size(Kernels.cfbEntries(col("__b"))).cast("bigint").as("n_entries"),
          Kernels.pptText(col("__b")).as("text"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CAST(CASE doc_id % 6
           |    WHEN 0 THEN 3 WHEN 1 THEN 3 WHEN 2 THEN 3 WHEN 5 THEN 3
           |    ELSE NULL END AS BIGINT) AS n_entries,
           |  CASE doc_id % 6
           |    WHEN 0 THEN 'Deck δ ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |                || ' ✓' || chr(10) || 'line one' || chr(10)
           |                || 'line' || chr(10) || 'two'
           |    WHEN 1 THEN 'bytes ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |                || ' deck' || chr(10) || 'tail'
           |    WHEN 5 THEN 'deep text' || chr(10) || 'after'
           |    ELSE NULL END AS text
           |FROM documents""".stripMargin))

  /** Zstd DICTIONARY frames under the oracle (round 17, RFC 8878 §5):
    * reference-encoder fixtures (CLI-trained 1 KB structured
    * dictionary + frames, vendored by tools/zstd_dict_fixtures.py
    * into [[graft.functions.ZstdDictFixture]]) decode in-plan through
    * the 2-arg `zstd_decompress`. Six lanes: three structured-dict
    * frames (two levels), a raw-content-dictionary frame, a
    * declared-dictionary frame WITHOUT its dictionary (refused), and
    * an ID-mismatched dictionary (refused) — the oracle replays the
    * known payload strings. */
  private val qZstdDict = Q("q_zstd_dict",
    (s, dir) => {
      import graft.functions.ZstdDictFixture
      val id = col("doc_id")
      val m = pmod(id, lit(6))
      val dict = unhex(lit(ZstdDictFixture.dictHex))
      // embedded-ID mismatch: Dictionary_ID lives at dict bytes 4-7
      val wrongDict = unhex(lit {
        val h = ZstdDictFixture.dictHex.toCharArray
        h(8) = if (h(8) == 'f') '0' else 'f'
        new String(h)
      })
      val blob = when(m === 0 || m === 4 || m === 5,
        unhex(lit(ZstdDictFixture.frame0Hex)))
        .when(m === 1, unhex(lit(ZstdDictFixture.frame1Hex)))
        .when(m === 2, unhex(lit(ZstdDictFixture.frame2Hex)))
        .otherwise(unhex(lit(ZstdDictFixture.rawFrameHex)))
      val dec = when(m === 4, Kernels.zstdDecompress(col("__b")))
        .when(m === 5, Kernels.zstdDecompressDict(col("__b"), wrongDict))
        .when(m === 3, Kernels.zstdDecompressDict(col("__b"),
          unhex(lit(ZstdDictFixture.rawDictHex))))
        .otherwise(Kernels.zstdDecompressDict(col("__b"), dict))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), m.as("__m"), blob.as("__b"))
        .select(col("doc_id"), dec.cast("string").as("text"),
          length(dec).cast("bigint").as("n_bytes"))
    },
    Some(s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
            |  CASE doc_id % 6
            |    WHEN 0 THEN '${graft.functions.ZstdDictFixture.payload0}'
            |    WHEN 1 THEN '${graft.functions.ZstdDictFixture.payload1}'
            |    WHEN 2 THEN '${graft.functions.ZstdDictFixture.payload2}'
            |    WHEN 3 THEN '${graft.functions.ZstdDictFixture.payload1}'
            |    ELSE NULL END AS text,
            |  CAST(CASE doc_id % 6
            |    WHEN 0 THEN ${graft.functions.ZstdDictFixture.payload0.length}
            |    WHEN 1 THEN ${graft.functions.ZstdDictFixture.payload1.length}
            |    WHEN 2 THEN ${graft.functions.ZstdDictFixture.payload2.length}
            |    WHEN 3 THEN ${graft.functions.ZstdDictFixture.payload1.length}
            |    ELSE NULL END AS BIGINT) AS n_bytes
            |FROM documents""".stripMargin))

  /** LZW `.Z` (Unix compress) under the oracle (round 17): the
    * RFC 9110 `compress` coding decoded for real — a DYNAMIC per-row
    * roundtrip (doc text + id → in-plan [[Kernels.lzwCompress]],
    * whose output format LzwSpec pins as decodable by gzip AND
    * libarchive → [[Kernels.lzwDecompress]]), a pinned
    * gzip-validated block-mode fixture, a corrupt stream (NULL), and
    * a pinned NON-BLOCK-mode stream (the pre-1985 format libarchive
    * doesn't even implement). */
  private val qLzwRoundtrip = Q("q_lzw_roundtrip",
    (s, dir) => {
      val id = col("doc_id")
      val m = pmod(id, lit(4))
      val clean = regexp_replace(coalesce(col("text"), lit("")), "[^ -~]", "")
      val dynText = concat(lit("lzw "), clean, lit(" #"), id.cast("string"))
      // gzip-validated at fixture build (LzwSpec pins the same hex)
      val blockHex = "1f9d90549e0829f2448a932754020e2ca890a04184"
      val oldHex = "1f9d10418400141890e040"
      // literal 'A' then code 300 (beyond free_ent): provably corrupt
      // (.Z has no checksum, so only a future-code reference is a
      // GUARANTEED refusal rather than a garbage decode)
      val corruptHex = "1f9d90415802"
      val blob = when(m === 0, Kernels.lzwCompress(encode(dynText, "UTF-8")))
        .when(m === 1, unhex(lit(blockHex)))
        .when(m === 2, unhex(lit(corruptHex)))
        .otherwise(unhex(lit(oldHex)))
      val dec = Kernels.lzwDecompress(col("__b"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"), dec.cast("string").as("text_out"),
          length(dec).cast("bigint").as("n_bytes"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, doc_id % 4 AS m,
           |    'lzw ' || regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g')
           |      || ' #' || doc_id AS dyn
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE m WHEN 0 THEN dyn
           |    WHEN 1 THEN 'TOBEORNOTTOBEORTOBEORNOT'
           |    WHEN 3 THEN 'ABABABABABABABAB' ELSE NULL END AS text_out,
           |  CAST(CASE m WHEN 0 THEN length(dyn) WHEN 1 THEN 24
           |    WHEN 3 THEN 16 ELSE NULL END AS BIGINT) AS n_bytes
           |FROM c""".stripMargin))

  /** LZ4 frames under the oracle (round 17): a DYNAMIC per-row
    * roundtrip (doc text + id -> in-plan [[Kernels.lz4CompressStore]],
    * whose frames Lz4Spec pins as decodable by the reference binary ->
    * [[Kernels.lz4Decompress]]), a pinned reference-CLI fixture
    * (lz4 -9 -BD --content-size: linked blocks + declared size +
    * content checksum), and a corrupt-checksum stream (NULL). */
  private val qLz4Roundtrip = Q("q_lz4_roundtrip",
    (s, dir) => {
      val id = col("doc_id")
      val m = pmod(id, lit(3))
      val clean = regexp_replace(coalesce(col("text"), lit("")), "[^ -~]", "")
      val dynText = concat(lit("lz4 "), clean, lit(" #"), id.cast("string"))
      val fixPage = "lz4 reference fixture payload lz4 reference fixture payload"
      // produced by the reference CLI (lz4 v1.9.4, -9 -BD --content-size)
      val fixHex = "04224d186c403b000000000000009429000000ff0f6c7a3420726566" +
        "6572656e63652066697874757265207061796c6f6164201e000550796c6f6164" +
        "0000000021b4258d"
      locally { // fixture honesty: the pinned hex must decode to its page
        val got = graft.functions.Lz4Kernels.decompress(
          fixHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
        require(got != null && new String(got, "UTF-8") == fixPage,
          "pinned lz4 fixture does not decode to its page")
      }
      // flip the last content-checksum byte: guaranteed refusal
      val badHex = fixHex.dropRight(2) + "8c"
      val blob = when(m === 0,
        Kernels.lz4CompressStore(encode(dynText, "UTF-8")))
        .when(m === 1, unhex(lit(fixHex)))
        .otherwise(unhex(lit(badHex)))
      val dec = Kernels.lz4Decompress(col("__b"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"), dec.cast("string").as("text_out"),
          length(dec).cast("bigint").as("n_bytes"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, doc_id % 3 AS m,
           |    'lz4 ' || regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g')
           |      || ' #' || doc_id AS dyn
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE m WHEN 0 THEN dyn
           |    WHEN 1 THEN 'lz4 reference fixture payload lz4 reference fixture payload'
           |    ELSE NULL END AS text_out,
           |  CAST(CASE m WHEN 0 THEN length(dyn) WHEN 1 THEN 59
           |    ELSE NULL END AS BIGINT) AS n_bytes
           |FROM c""".stripMargin))

  /** RTF text extraction under the oracle (round 17): per-doc RTF
    * documents with the doc_id SPLICED into a body run — six lanes:
    * a full document (font/color/info destinations, formatting words,
    * `\'hh` cp1252 bytes, paragraph marks), a `{\*\...}`-skip +
    * symbol-word document, a `\bin`-skip document, non-RTF junk,
    * an unbalanced document, and a truncated one — refusals come back
    * NULL. */
  private val qRtfText = Q("q_rtf_text",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(6))
      val marker = "0000000"
      def spliceStr(tpl: String, repl: Column): Column = {
        val at = tpl.indexOf(marker)
        require(at >= 0 && tpl.indexOf(marker, at + 1) < 0,
          "marker not unique")
        concat(lit(tpl.substring(0, at)), repl,
          lit(tpl.substring(at + marker.length)))
      }
      val pad7 = lpad(idS, 7, "0")
      val full = """{\rtf1\ansi\deff0{\fonttbl{\f0\fswiss Arial;}}""" +
        """{\colortbl;\red0\green0\blue0;}{\info{\author bot}}""" +
        """\f0\fs22\b rtf body 0000000\b0  caf\'e9\par second line}"""
      val skipDoc = """{\rtf1{\*\generator Acme 9;}""" +
        """quote \ldblquote 0000000\rdblquote\emdash end}"""
      val binDoc = """{\rtf1 pre\bin4 XXXX 0000000 post}"""
      val blob = when(m === 0, encode(spliceStr(full, pad7), "ISO-8859-1"))
        .when(m === 1, encode(spliceStr(skipDoc, pad7), "ISO-8859-1"))
        .when(m === 2, encode(spliceStr(binDoc, pad7), "ISO-8859-1"))
        .when(m === 3, encode(concat(lit("not rtf "), idS), "UTF-8"))
        .when(m === 4, encode(concat(lit("""{\rtf1 un}bal}"""), idS), "UTF-8"))
        .otherwise(encode(lit("""{\rtf1 trunca"""), "UTF-8"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"), Kernels.rtfText(col("__b")).as("text"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE doc_id % 6
           |    WHEN 0 THEN 'rtf body ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |                || ' café' || chr(10) || 'second line'
           |    WHEN 1 THEN 'quote “' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |                || '”—end'
           |    WHEN 2 THEN 'pre ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |                || ' post'
           |    ELSE NULL END AS text
           |FROM documents""".stripMargin))

  /** EML/MIME extraction under the oracle (round 17): per-doc mail
    * messages with the doc_id SPLICED into subject/body slots — a
    * plain 7bit message, a quoted-printable latin-1 message with an
    * RFC 2047 B-word from-name, a nested multipart (alternative
    * inside mixed, html part extracted, attachment skipped), and
    * three refusal lanes (junk, unknown charset, unterminated
    * multipart). */
  private val qEmlText = Q("q_eml_text",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(6))
      val marker = "0000000"
      def spliceStr(tpl: String, repl: Column): Column = {
        val at = tpl.indexOf(marker)
        require(at >= 0 && tpl.indexOf(marker, at + 1) < 0,
          "marker not unique")
        concat(lit(tpl.substring(0, at)), repl,
          lit(tpl.substring(at + marker.length)))
      }
      val pad7 = lpad(idS, 7, "0")
      val plain = "From: Ada <ada@example.org>\r\n" +
        "Subject: report 0000000\r\n" +
        "Date: Mon, 1 Jan 2024 10:00:00 +0000\r\n\r\n" +
        "plain body\r\nsecond line"
      val b64name = java.util.Base64.getEncoder.encodeToString(
        "Team δ".getBytes("UTF-8"))
      val qp = s"From: =?utf-8?B?$b64name?= <t@example.org>\n" +
        "Subject: qp mail\n" +
        "Content-Type: text/plain; charset=iso-8859-1\n" +
        "Content-Transfer-Encoding: quoted-printable\n\n" +
        "caf=E9 0000000 =\nsoft-wrapped"
      val multi = "From: list@example.org\nSubject: digest\n" +
        "Content-Type: multipart/mixed; boundary=out\n\n" +
        "--out\nContent-Type: multipart/alternative; boundary=in\n\n" +
        "--in\nContent-Type: text/html\n\n<p>html alt</p>\n" +
        "--in\nContent-Type: text/plain\n\nalt plain 0000000\n" +
        "--in--\n" +
        "--out\nContent-Type: application/pdf\n\nATTACHMENT\n" +
        "--out\nContent-Type: text/plain\n\ntail part\n" +
        "--out--\n"
      val badCs = "From: x@y\nSubject: s\n" +
        "Content-Type: text/plain; charset=x-unknown\n\nbody"
      val unterm = "From: x@y\nSubject: s\n" +
        "Content-Type: multipart/mixed; boundary=q\n\n" +
        "--q\nContent-Type: text/plain\n\nnever closed"
      val blob = when(m === 0, encode(spliceStr(plain, pad7), "ISO-8859-1"))
        .when(m === 1, encode(spliceStr(qp, pad7), "ISO-8859-1"))
        .when(m === 2, encode(spliceStr(multi, pad7), "ISO-8859-1"))
        .when(m === 3, encode(concat(lit("no mail "), idS), "UTF-8"))
        .when(m === 4, encode(lit(badCs), "ISO-8859-1"))
        .otherwise(encode(lit(unterm), "ISO-8859-1"))
      val p = Kernels.emlParts(col("__b"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"),
          p.getField("from").as("from"),
          p.getField("subject").as("subject"),
          p.getField("n_parts").cast("bigint").as("n_parts"),
          p.getField("text").as("text"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE doc_id % 6
           |    WHEN 0 THEN 'Ada <ada@example.org>'
           |    WHEN 1 THEN 'Team δ <t@example.org>'
           |    WHEN 2 THEN 'list@example.org'
           |    ELSE NULL END AS "from",
           |  CASE doc_id % 6
           |    WHEN 0 THEN 'report ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |    WHEN 1 THEN 'qp mail' WHEN 2 THEN 'digest'
           |    ELSE NULL END AS subject,
           |  CAST(CASE doc_id % 6
           |    WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 6
           |    ELSE NULL END AS BIGINT) AS n_parts,
           |  CASE doc_id % 6
           |    WHEN 0 THEN 'plain body' || chr(13) || chr(10) || 'second line'
           |    WHEN 1 THEN 'café ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |                || ' soft-wrapped'
           |    WHEN 2 THEN 'alt plain ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |                || chr(10) || chr(10) || 'tail part'
           |    ELSE NULL END AS text
           |FROM documents""".stripMargin))

  /** MP3 metadata under the oracle (round 17): ID3 tags + the r13
    * frame-chain triage composed over REAL tagged MP3 blobs (ID3v2 +
    * valid Layer III frame chain + ID3v1 trailer, in-repo builders,
    * doc_id spliced into tag slots). PCM decode stays a declared gap
    * (the ISO Huffman tables are not available offline — SCALING.md);
    * tags + duration are what a corpus pipeline joins on. Five lanes:
    * v2-titled chain with v1 fallback fields, v1-only chain, v2.4
    * utf-8 chain, junk (all NULL), and a tagless chain (duration
    * without tags). */
  private val qMp3Meta = Q("q_mp3_meta",
    (s, dir) => {
      import graft.functions.Id3Kernels
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(5))
      val marker = "0000000"
      def splice(blob: Array[Byte], repl: Column): Column = {
        val needle = marker.getBytes("US-ASCII")
        val at = blob.indexOfSlice(needle)
        require(at >= 0 && blob.indexOfSlice(needle, at + 1) < 0,
          "marker not unique")
        concat(unhex(lit(hexOf(blob.take(at)))), repl,
          unhex(lit(hexOf(blob.drop(at + needle.length)))))
      }
      val pad7 = encode(lpad(idS, 7, "0"), "ISO-8859-1")
      val lane0 = Id3Kernels.buildV2(3, Seq(
        ("TIT2", s"track $marker", 0), ("TYER", "2003", 0))) ++
        Id3Kernels.buildFrames(3) ++
        Id3Kernels.buildV1("ignored title", "Fallback Artist", "Fall Album", "1999")
      // v2 title wins; artist/album/year... TYER present so year=2003
      val lane1 = Id3Kernels.buildFrames(5) ++
        Id3Kernels.buildV1(s"v1 $marker", "Solo Artist", "Lone", "1977")
      val lane2 = Id3Kernels.buildV2(4, Seq(
        ("TIT2", "統一タイトル", 3), ("TPE1", "誰か", 3),
        ("TDRC", "2015-06-01", 3))) ++ Id3Kernels.buildFrames(2)
      val lane4 = Id3Kernels.buildFrames(4)
      val blob = when(m === 0, splice(lane0, pad7))
        .when(m === 1, splice(lane1, pad7))
        .when(m === 2, unhex(lit(hexOf(lane2))))
        .when(m === 3, encode(concat(lit("no mp3 "), idS), "UTF-8"))
        .otherwise(unhex(lit(hexOf(lane4))))
      val tg = Kernels.id3Tags(col("__b"))
      val am = Kernels.audioMeta(col("__b"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"),
          tg.getField("title").as("title"),
          tg.getField("artist").as("artist"),
          tg.getField("year").as("year"),
          am.getField("sample_rate").cast("bigint").as("sample_rate"),
          am.getField("n_frames").cast("bigint").as("n_samples"),
          round(am.getField("n_frames").cast("double") /
            am.getField("sample_rate").cast("double"), 6).as("seconds"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE doc_id % 5
           |    WHEN 0 THEN 'track ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |    WHEN 1 THEN 'v1 ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |    WHEN 2 THEN '統一タイトル'
           |    ELSE NULL END AS title,
           |  CASE doc_id % 5
           |    WHEN 0 THEN 'Fallback Artist' WHEN 1 THEN 'Solo Artist'
           |    WHEN 2 THEN '誰か'
           |    ELSE NULL END AS artist,
           |  CASE doc_id % 5
           |    WHEN 0 THEN '2003' WHEN 1 THEN '1977' WHEN 2 THEN '2015'
           |    ELSE NULL END AS year,
           |  CAST(CASE WHEN doc_id % 5 = 3 THEN NULL ELSE 44100
           |    END AS BIGINT) AS sample_rate,
           |  CAST(CASE doc_id % 5
           |    WHEN 0 THEN 3 * 1152 WHEN 1 THEN 5 * 1152
           |    WHEN 2 THEN 2 * 1152 WHEN 4 THEN 4 * 1152
           |    ELSE NULL END AS BIGINT) AS n_samples,
           |  round(CAST(CASE doc_id % 5
           |    WHEN 0 THEN 3 * 1152 WHEN 1 THEN 5 * 1152
           |    WHEN 2 THEN 2 * 1152 WHEN 4 THEN 4 * 1152
           |    ELSE NULL END AS DOUBLE) / 44100.0, 6) AS seconds
           |FROM documents""".stripMargin))

  /** RSS/Atom discovery under the oracle (round 17): per-doc feeds
    * CONSTRUCTED in-plan — an RSS channel (two items: entities in the
    * title, a CDATA description, a skipped category; second item
    * dateless) and an Atom feed (rel-preference link choice, published
    * fallback) — plus a truncated document and non-feed junk, each one
    * all-NULL row via posexplode_outer. One codegen projection +
    * explode; the oracle recomputes every entry arithmetically. */
  private val qFeedEntries = Q("q_feed_entries",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(4))
      val rss = concat(
        lit("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
          "<title>Site</title><link>https://ex.org/</link>"),
        lit("<item><title>Post &amp; note "), idS,
        lit("</title><link>https://ex.org/p/"), idS,
        lit("?a=1&amp;b=2</link><pubDate>Mon, 0"),
        (pmod(id, lit(9)) + 1).cast("string"),
        lit(" Jan 2024 10:00:00 GMT</pubDate>" +
          "<description><![CDATA[body <i>"), idS,
        lit("</i>]]></description><category>x</category></item>"),
        lit("<item><title>Second "), idS,
        lit("</title><link>https://ex.org/q/"), idS,
        lit("</link></item></channel></rss>"))
      val atom = concat(
        lit("<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
          "<title>Blog</title><id>urn:x</id><entry><title>Entry "), idS,
        lit("</title><link rel=\"self\" href=\"https://b.ex/self\"/>" +
          "<link rel=\"alternate\" href=\"https://b.ex/e/"), idS,
        lit("\"/><published>2024-03-03T00:00:00Z</published>" +
          "<summary>sum "), idS,
        lit("</summary></entry></feed>"))
      val xml = when(m === 0, rss)
        .when(m === 1, atom)
        .when(m === 2, substring(rss, 1, 90))
        .otherwise(concat(lit("<html><body>not a feed "), idS,
          lit("</body></html>")))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), xml.as("__x"))
        .select(col("doc_id"),
          posexplode_outer(Kernels.feedEntries(col("__x"))).as(Seq("pos", "e")))
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"),
          col("e.kind").as("kind"), col("e.title").as("title"),
          col("e.link").as("link"), col("e.date").as("date"),
          col("e.summary").as("summary"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, CAST(doc_id % 4 AS INT) AS m FROM documents),
           |rows_ AS (
           |  SELECT doc_id, 0 AS pos, 'rss' AS kind,
           |         'Post & note ' || doc_id AS title,
           |         'https://ex.org/p/' || doc_id || '?a=1&b=2' AS link,
           |         'Mon, 0' || (doc_id % 9 + 1) ||
           |           ' Jan 2024 10:00:00 GMT' AS date_,
           |         'body <i>' || doc_id || '</i>' AS summary
           |    FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 1, 'rss', 'Second ' || doc_id,
           |         'https://ex.org/q/' || doc_id, NULL, NULL
           |    FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 0, 'atom', 'Entry ' || doc_id,
           |         'https://b.ex/e/' || doc_id,
           |         '2024-03-03T00:00:00Z', 'sum ' || doc_id
           |    FROM c WHERE m = 1
           |  UNION ALL SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL
           |    FROM c WHERE m IN (2, 3))
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CAST(pos AS BIGINT) AS pos, kind, title, link,
           |       date_ AS date, summary
           |FROM rows_""".stripMargin))

  /** The unified text front door under the oracle (round 17):
    * [[Multimodal.documentText]] — ONE magic-dispatched column that
    * yields "the text of whatever this blob is" across the whole
    * format surface this engine decodes. Twelve lanes: pdf, docx,
    * pptx, xlsx (cell values), legacy doc/ppt/xls, rtf, eml, html
    * (in-plan, doc_id-bearing), plain text, and a damaged-pdf NULL
    * lane. This is the operator a 100 TB ingest actually calls first;
    * the per-format queries remain the deep oracles. */
  private val qDocumentText = Q("q_document_text",
    (s, dir) => {
      import graft.functions.{CfbKernels, PptKernels, XlsKernels}
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(12))
      val pdf = {
        val out = new java.io.ByteArrayOutputStream()
        def es(x: String): Unit = out.write(x.getBytes("ISO-8859-1"))
        val offs = scala.collection.mutable.ArrayBuffer[Long]()
        es("%PDF-1.4\n")
        offs += out.size(); es("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
        offs += out.size(); es("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
        offs += out.size(); es("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
        offs += out.size()
        val content = "BT (pdf lane text) Tj ET"
        es(s"4 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n")
        val xo = out.size()
        es("xref\n0 5\n0000000000 65535 f \n")
        offs.foreach(o => es(f"$o%010d 00000 n \n"))
        es(s"trailer << /Size 5 /Root 1 0 R >>\nstartxref\n$xo\n%%EOF")
        out.toByteArray
      }
      val docx = zipArchive("word/document.xml" ->
        "<w:document><w:body><w:p><w:r><w:t>docx lane text</w:t></w:r></w:p></w:body></w:document>")
      val pptx = zipArchive("ppt/slides/slide1.xml" ->
        "<p:sld><a:p><a:t>pptx lane text</a:t></a:p></p:sld>")
      val xlsx = zipArchive("xl/worksheets/sheet1.xml" ->
        ("<worksheet><sheetData><row r=\"1\">" +
          "<c r=\"A1\" t=\"inlineStr\"><is><t>cell one</t></is></c></row>" +
          "<row r=\"2\"><c r=\"A2\" t=\"inlineStr\"><is><t>cell two</t></is></c>" +
          "</row></sheetData></worksheet>"))
      val doc = CfbKernels.buildDoc("doc lane text", unicode = false)
      val ppt = PptKernels.build(PptKernels.textBytes("ppt lane text"))
      val xls = XlsKernels.build(Seq(Seq(
        XlsKernels.XLabelC(0, 0, "xls one"), XlsKernels.XNum(1, 1, 7.0))))
      val rtf = """{\rtf1 rtf lane text\par}""".getBytes("ISO-8859-1")
      val eml = "From: a@b\nSubject: s\n\nmail lane text".getBytes("ISO-8859-1")
      val blob = when(m === 0, unhex(lit(hexOf(pdf))))
        .when(m === 1, unhex(lit(hexOf(docx))))
        .when(m === 2, unhex(lit(hexOf(pptx))))
        .when(m === 3, unhex(lit(hexOf(xlsx))))
        .when(m === 4, unhex(lit(hexOf(doc))))
        .when(m === 5, unhex(lit(hexOf(ppt))))
        .when(m === 6, unhex(lit(hexOf(xls))))
        .when(m === 7, unhex(lit(hexOf(rtf))))
        .when(m === 8, unhex(lit(hexOf(eml))))
        .when(m === 9, encode(concat(lit("<html><body><p>html lane "), idS,
          lit("</p></body></html>")), "UTF-8"))
        .when(m === 10, encode(concat(lit("plain lane "), idS), "UTF-8"))
        .otherwise(unhex(lit(hexOf(pdf.take(60))))) // damaged pdf: NULL
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"),
          Multimodal.documentText(col("__b")).as("text"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE doc_id % 12
           |    WHEN 0 THEN 'pdf lane text'
           |    WHEN 1 THEN 'docx lane text'
           |    WHEN 2 THEN 'pptx lane text'
           |    WHEN 3 THEN 'cell one' || chr(10) || 'cell two'
           |    WHEN 4 THEN 'doc lane text'
           |    WHEN 5 THEN 'ppt lane text'
           |    WHEN 6 THEN 'xls one' || chr(10) || '7'
           |    WHEN 7 THEN 'rtf lane text' || chr(10)
           |    WHEN 8 THEN 'mail lane text'
           |    WHEN 9 THEN 'html lane ' || doc_id
           |    WHEN 10 THEN 'plain lane ' || doc_id
           |    ELSE NULL END AS text
           |FROM documents""".stripMargin))

  /** mbox → messages under the oracle (round 17): per-doc two-message
    * archives constructed in-plan (envelope lines, a `>From ` quoted
    * body line, QP second message), split + parsed in one statement —
    * plus junk and a truncated single-envelope refusal lane, each one
    * all-NULL row via posexplode_outer. */
  private val qMboxMessages = Q("q_mbox_messages",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(3))
      val mbox = concat(
        lit("From alice@example.org Mon Jan  1 10:00:00 2024\n" +
          "From: alice@example.org\nSubject: first "), idS,
        lit("\n\nbody one\n>From quoted survives\n" +
          "From bob@example.org Mon Jan  1 11:00:00 2024\n" +
          "From: bob@example.org\nSubject: second "), idS,
        lit("\nContent-Type: text/plain; charset=iso-8859-1\n" +
          "Content-Transfer-Encoding: quoted-printable\n\ncaf=E9 "), idS,
        lit("\n"))
      val blob = when(m === 0, encode(mbox, "ISO-8859-1"))
        .when(m === 1, encode(concat(lit("no mbox "), idS), "UTF-8"))
        .otherwise(encode(lit("From "), "UTF-8"))
      val p = Kernels.emlParts(col("m"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"),
          posexplode_outer(Kernels.mboxMessages(col("__b")))
            .as(Seq("pos", "m")))
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"),
          p.getField("from").as("from"),
          p.getField("subject").as("subject"),
          p.getField("text").as("text"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS m FROM documents),
           |rows_ AS (
           |  SELECT doc_id, 0 AS pos, 'alice@example.org' AS f,
           |         'first ' || doc_id AS subj,
           |         'body one' || chr(10) || 'From quoted survives'
           |           || chr(10) AS text
           |    FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 1, 'bob@example.org',
           |         'second ' || doc_id, 'café ' || doc_id || chr(10)
           |    FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, NULL, NULL, NULL, NULL
           |    FROM c WHERE m IN (1, 2))
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CAST(pos AS BIGINT) AS pos, f AS "from", subj AS subject,
           |       text
           |FROM rows_""".stripMargin))

  /** HTML page-head metadata under the oracle (round 17):
    * [[Kernels.htmlMeta]] over per-doc constructed pages — a full head
    * (title with entities + fold whitespace, og:* triple, name
    * description, canonical after a stylesheet link, lang, a script
    * carrying a decoy title), a bare-body page (all NULL fields), and
    * plain non-HTML text. Best-effort contract: soup never NULLs the
    * struct, only its absent fields. */
  private val qHtmlMeta = Q("q_html_meta",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(3))
      val page = concat(
        lit("<!DOCTYPE html><html lang=\"en\"><head><title> Doc &amp;\n  "),
        idS, lit(" </title>" +
          "<meta property=\"og:title\" content=\"OG "), idS,
        lit("\"><meta name=\"description\" content=\"desc "), idS,
        lit("\"><link rel=\"stylesheet\" href=\"s.css\">" +
          "<link href=\"https://ex.org/c/"), idS,
        lit("\" rel=\"canonical\">" +
          "<script>var t = \"<title>decoy</title>\";</script>" +
          "</head><body><p>body</p></body></html>"))
      val html = when(m === 0, page)
        .when(m === 1, concat(lit("<p>just a body "), idS, lit("</p>")))
        .otherwise(concat(lit("plain text "), idS))
      val mt = Kernels.htmlMeta(col("__h"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), html.as("__h"))
        .select(col("doc_id"),
          mt.getField("title").as("title"),
          mt.getField("description").as("description"),
          mt.getField("og_title").as("og_title"),
          mt.getField("canonical").as("canonical"),
          mt.getField("lang").as("lang"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE WHEN doc_id % 3 = 0 THEN 'Doc & ' || doc_id
           |       ELSE NULL END AS title,
           |  CASE WHEN doc_id % 3 = 0 THEN 'desc ' || doc_id
           |       ELSE NULL END AS description,
           |  CASE WHEN doc_id % 3 = 0 THEN 'OG ' || doc_id
           |       ELSE NULL END AS og_title,
           |  CASE WHEN doc_id % 3 = 0 THEN 'https://ex.org/c/' || doc_id
           |       ELSE NULL END AS canonical,
           |  CASE WHEN doc_id % 3 = 0 THEN 'en' ELSE NULL END AS lang
           |FROM documents""".stripMargin))

  /** Web-font triage under the oracle (round 17): REAL sfnt/WOFF
    * framing from the in-repo builders — a TTF whose Windows name
    * record carries the doc_id (spliced UTF-16BE), a WOFF with a
    * zlib-compressed name table, a WOFF2 header-only census row, and
    * junk/truncation refusals. */
  private val qFontMeta = Q("q_font_meta",
    (s, dir) => {
      import graft.functions.FontKernels
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(5))
      val marker = "0000000"
      val ttf = FontKernels.buildSfnt(otf = false, Seq(
        "name" -> FontKernels.buildNameTable(s"Font $marker"),
        "maxp" -> FontKernels.buildMaxp(256),
        "glyf" -> Array.fill[Byte](32)(1)))
      val needle = marker.getBytes(
        java.nio.charset.StandardCharsets.UTF_16BE)
      val at = ttf.indexOfSlice(needle)
      require(at >= 0 && ttf.indexOfSlice(needle, at + 1) < 0,
        "font marker not unique")
      val d0 = concat(unhex(lit(hexOf(ttf.take(at)))),
        encode(lpad(idS, 7, "0"), "UTF-16BE"),
        unhex(lit(hexOf(ttf.drop(at + needle.length)))))
      val woff = FontKernels.buildWoff(otf = false, Seq(
        ("name", FontKernels.buildNameTable("Webby Sans"), true),
        ("maxp", FontKernels.buildMaxp(77), false)))
      val woff2 = {
        val out = new java.io.ByteArrayOutputStream()
        out.write("wOF2".getBytes("US-ASCII"))
        out.write(Array[Byte](0, 1, 0, 0))
        out.write(Array[Byte](0, 0, 8, 0))
        out.write(Array[Byte](0, 9))
        out.write(new Array[Byte](34))
        out.toByteArray
      }
      val blob = when(m === 0, d0)
        .when(m === 1, unhex(lit(hexOf(woff))))
        .when(m === 2, unhex(lit(hexOf(woff2))))
        .when(m === 3, encode(concat(lit("no font "), idS), "UTF-8"))
        .otherwise(unhex(lit(hexOf(ttf.take(30)))))
      val fm = Kernels.fontMeta(col("__b"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"),
          fm.getField("format").as("format"),
          fm.getField("family").as("family"),
          fm.getField("n_glyphs").cast("bigint").as("n_glyphs"),
          fm.getField("n_tables").cast("bigint").as("n_tables"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE doc_id % 5 WHEN 0 THEN 'ttf' WHEN 1 THEN 'woff-ttf'
           |    WHEN 2 THEN 'woff2' ELSE NULL END AS format,
           |  CASE doc_id % 5
           |    WHEN 0 THEN 'Font ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |    WHEN 1 THEN 'Webby Sans'
           |    ELSE NULL END AS family,
           |  CAST(CASE doc_id % 5 WHEN 0 THEN 256 WHEN 1 THEN 77
           |    ELSE NULL END AS BIGINT) AS n_glyphs,
           |  CAST(CASE doc_id % 5 WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 9
           |    ELSE NULL END AS BIGINT) AS n_tables
           |FROM documents""".stripMargin))

  /** EXIF extraction under the oracle (round 17): a REAL tagged JPEG
    * (APP1 spliced into the in-repo encoder's output — still
    * pixel-decodable) with the doc_id SPLICED into the Model string
    * and a GPS fix, a bare big-little TIFF block without GPS, an
    * untagged JPEG (NULL — nothing to vouch for), and junk. */
  private val qExifMeta = Q("q_exif_meta",
    (s, dir) => {
      import graft.functions.{ExifKernels, ImageEncoders}
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(4))
      val marker = "0000000"
      val jpeg = ImageEncoders.jpegGrayBlocks(
        Array.tabulate(8, 8)((r, c) => (r * 7 + c * 3) % 256))
      val tagged = ExifKernels.app1Splice(jpeg,
        ExifKernels.buildExif(6, "Acme", s"Cam $marker",
          "2021:07:14 12:34:56", Some((48.8584, -123.5))))
      val needle = marker.getBytes("US-ASCII")
      val at = tagged.indexOfSlice(needle)
      require(at >= 0 && tagged.indexOfSlice(needle, at + 1) < 0,
        "exif marker not unique")
      val d0 = concat(unhex(lit(hexOf(tagged.take(at)))),
        encode(lpad(idS, 7, "0"), "US-ASCII"),
        unhex(lit(hexOf(tagged.drop(at + needle.length)))))
      val bare = ExifKernels.buildExif(1, "Bare", "Tiff Block",
        "2019:12:31 23:59:59", None)
      val blob = when(m === 0, d0)
        .when(m === 1, unhex(lit(hexOf(bare))))
        .when(m === 2, unhex(lit(hexOf(jpeg))))
        .otherwise(encode(concat(lit("no exif "), idS), "UTF-8"))
      val em = Kernels.exifMeta(col("__b"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"),
          em.getField("orientation").cast("bigint").as("orientation"),
          em.getField("datetime").as("datetime"),
          em.getField("make").as("make"),
          em.getField("model").as("model"),
          em.getField("gps_lat").as("gps_lat"),
          em.getField("gps_lon").as("gps_lon"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CAST(CASE doc_id % 4 WHEN 0 THEN 6 WHEN 1 THEN 1
           |    ELSE NULL END AS BIGINT) AS orientation,
           |  CASE doc_id % 4 WHEN 0 THEN '2021:07:14 12:34:56'
           |    WHEN 1 THEN '2019:12:31 23:59:59' ELSE NULL END AS datetime,
           |  CASE doc_id % 4 WHEN 0 THEN 'Acme' WHEN 1 THEN 'Bare'
           |    ELSE NULL END AS make,
           |  CASE doc_id % 4
           |    WHEN 0 THEN 'Cam ' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           |    WHEN 1 THEN 'Tiff Block' ELSE NULL END AS model,
           |  CAST(CASE doc_id % 4 WHEN 0 THEN 48.8584
           |    ELSE NULL END AS DOUBLE) AS gps_lat,
           |  CAST(CASE doc_id % 4 WHEN 0 THEN -123.5
           |    ELSE NULL END AS DOUBLE) AS gps_lon
           |FROM documents""".stripMargin))

  private val qBinaryRoute = Q("q_binary_route",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val pdfHex = {
        val out = new java.io.ByteArrayOutputStream()
        def es(x: String): Unit = out.write(x.getBytes("ISO-8859-1"))
        val offs = scala.collection.mutable.ArrayBuffer[Long]()
        es("%PDF-1.6\n")
        offs += out.size(); es("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
        offs += out.size(); es("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
        offs += out.size(); es("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
        offs += out.size(); es("4 0 obj << /Length 20 >> stream\nBT (router pdf) Tj ET\nendstream endobj\n")
        val xo = out.size()
        es("xref\n0 5\n0000000000 65535 f \n")
        offs.foreach(o => es(f"$o%010d 00000 n \n"))
        es(s"trailer << /Size 5 /Root 1 0 R >>\nstartxref\n$xo\n%%EOF")
        hexOf(out.toByteArray)
      }
      val zipHex = hexOf(zipArchive("a.txt" -> "router zip", "b.txt" -> "two"))
      val tarHex = {
        val data = java.util.Arrays.copyOf("router tar".getBytes("UTF-8"), 512)
        val h = new Array[Byte](512)
        def put(off: Int, x: String): Unit =
          System.arraycopy(x.getBytes("ISO-8859-1"), 0, h, off, x.length)
        put(0, "r.txt"); put(100, "0000644 "); put(108, "0000000 ")
        put(116, "0000000 "); put(124, f"${10}%011o" + " ")
        put(136, "00000000000 "); h(156) = '0'.toByte; put(257, "ustar 00")
        java.util.Arrays.fill(h, 148, 156, ' '.toByte)
        var sum = 0L; h.foreach(x => sum += (x & 0xff))
        put(148, f"$sum%06o" + "  ")
        hexOf(h ++ data ++ new Array[Byte](1024))
      }
      val gzHex = {
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write("router gzip payload".getBytes("UTF-8")); g.close()
        hexOf(bos.toByteArray)
      }
      // 1x1 gray PNG (fixed, from PngKernels' own test corpus shape)
      val pngHex = {
        def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
          val crc = new java.util.zip.CRC32
          crc.update(tag.getBytes("ISO-8859-1")); crc.update(data)
          java.nio.ByteBuffer.allocate(12 + data.length)
            .putInt(data.length).put(tag.getBytes("ISO-8859-1")).put(data)
            .putInt(crc.getValue.toInt).array()
        }
        val ihdr = java.nio.ByteBuffer.allocate(13)
          .putInt(1).putInt(1).put(8.toByte).put(0.toByte)
          .put(0.toByte).put(0.toByte).put(0.toByte).array()
        val raw = Array[Byte](0, 77) // filter 0, one gray pixel
        val d = new java.util.zip.Deflater()
        d.setInput(raw); d.finish()
        val zbuf = new Array[Byte](64)
        val zn = d.deflate(zbuf); d.end()
        val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10)
        hexOf(sig ++ chunk("IHDR", ihdr) ++
          chunk("IDAT", java.util.Arrays.copyOf(zbuf, zn)) ++
          chunk("IEND", Array.emptyByteArray))
      }
      val wavHex = {
        val nFrames = 8
        val data = new Array[Byte](nFrames * 2) // 8 mono 16-bit frames
        val bb = java.nio.ByteBuffer.allocate(44 + data.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
        bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
          .putInt(8000).putInt(16000).putShort(2).putShort(16)
        bb.put("data".getBytes).putInt(data.length).put(data)
        hexOf(bb.array())
      }
      val avroHex = {
        val bos = new java.io.ByteArrayOutputStream()
        def vz(n: Long): Unit = { // zigzag varint
          var u = (n << 1) ^ (n >> 63)
          var going = true
          while (going) {
            val byte = (u & 0x7f).toInt
            u >>>= 7
            if (u == 0) { bos.write(byte); going = false }
            else bos.write(byte | 0x80)
          }
        }
        def bs(x: Array[Byte]): Unit = { vz(x.length); bos.write(x) }
        bos.write("Obj".getBytes); bos.write(1)
        vz(2) // metadata map: one block of 2 entries
        bs("avro.schema".getBytes); bs("\"bytes\"".getBytes)
        bs("avro.codec".getBytes); bs("null".getBytes)
        vz(0) // end of map
        val sync = Array.tabulate[Byte](16)(i => (i * 7 + 3).toByte)
        bos.write(sync)
        def block(count: Int, data: Array[Byte]): Unit = {
          vz(count); vz(data.length); bos.write(data); bos.write(sync)
        }
        block(3, "abcde".getBytes)
        block(2, "fg".getBytes)
        hexOf(bos.toByteArray)
      }
      // zstd (round 15): a real RFC 8878 store-mode frame built IN-PLAN
      // per doc (magic + single-segment FHD + 4-byte FCS + one raw
      // block), so the router DECODES it — detail = decompressed
      // length, which the oracle recomputes arithmetically
      val zPayload = encode(concat(lit("zstd doc "), idS), "UTF-8")
      val zstdBlob = zstdStoreFrameCol(zPayload)
      // cfb (round 16, subkinds r17): REAL v3 compound files from the
      // in-repo writers. The CFB magic alone says "Office-era
      // container"; the directory names say WHICH lane — .doc
      // (detail = text length), .xls (detail = cell count), .ppt
      // (detail = text length), or a bare container (detail = entry
      // count).
      val cfbHex = hexOf(graft.functions.CfbKernels.buildDoc(
        "router doc", unicode = false,
        extra = Seq("1Table" -> Array.fill[Byte](32)(5))))
      val xlsHex = {
        import graft.functions.XlsKernels
        hexOf(XlsKernels.build(Seq(Seq(
          XlsKernels.XSst(0, 0, "router xls"),
          XlsKernels.XNum(1, 1, 5.0),
          XlsKernels.XRkInt(2, 2, 7)))))
      }
      val pptHex = hexOf(graft.functions.PptKernels.build(
        graft.functions.PptKernels.textBytes("router deck")))
      val cfbPlainHex = hexOf(graft.functions.CfbKernels.build(Seq(
        "Data" -> Array.fill[Byte](100)(1),
        "Meta" -> "plain cfb".getBytes("UTF-8"))))
      // archive triage lanes (r17 stretch): 7z + RAR5, CRC-verified
      // header walks, no payload decode
      val szHex = hexOf(graft.functions.ArchiveKernels.build7z(
        Array.tabulate[Byte](300)(i => (i * 7).toByte),
        Array[Byte](0x17, 0x06, 0x01)))
      val rarHex = hexOf(graft.functions.ArchiveKernels.buildRar5(Seq(10, 20)))
      // parquet (round 16, the r15 stretch lane): a REAL file written
      // by Spark's own writer at plan build — triage reads only the
      // footer (detail = num_rows)
      val pqHex = {
        val d = scratch("route_pq")
        s.range(7).selectExpr("id", "CAST(id AS STRING) AS s")
          .coalesce(1).write.mode("overwrite").parquet(d)
        val part = new java.io.File(d).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        hexOf(java.nio.file.Files.readAllBytes(part.toPath))
      }
      val m9 = pmod(id, lit(18))
      val blob = when(m9 === 0, unhex(lit(pdfHex)))
        .when(m9 === 1, unhex(lit(zipHex)))
        .when(m9 === 2, unhex(lit(tarHex)))
        .when(m9 === 3, unhex(lit(gzHex)))
        .when(m9 === 4, unhex(lit(pngHex)))
        .when(m9 === 5, unhex(lit(wavHex)))
        .when(m9 === 6, unhex(lit(avroHex)))
        .when(m9 === 7, zstdBlob)
        .when(m9 === 8, unhex(lit(cfbHex)))
        .when(m9 === 9, unhex(lit(pqHex)))
        .when(m9 === 10, unhex(lit(xlsHex)))
        .when(m9 === 11, unhex(lit(pptHex)))
        .when(m9 === 12, unhex(lit(cfbPlainHex)))
        .when(m9 === 13, unhex(lit(szHex)))
        .when(m9 === 14, unhex(lit(rarHex)))
        .when(m9 === 15,
          Kernels.lzwCompress(encode(concat(lit("lzw doc "),
            id.cast("string")), "UTF-8")))
        .when(m9 === 16,
          Kernels.lz4CompressStore(encode(concat(lit("lz4 doc "),
            id.cast("string")), "UTF-8")))
        .otherwise(encode(concat(lit("junk "), id.cast("string")), "UTF-8"))
      // MAGIC dispatch FIRST, then exactly ONE kernel per row inside a
      // lazily-evaluated CASE branch — running every parser on every
      // blob would pay ~7x triage cost at 100 TB. A blob whose magic
      // matches but whose kernel refuses (truncated pdf, corrupt zip)
      // degrades to 'unknown' via the null detail.
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"), col("__b"),
          when(substring(col("__b"), 1, 5) === encode(lit("%PDF-"), "UTF-8"),
            lit("pdf"))
            .when(substring(col("__b"), 1, 2) === encode(lit("PK"), "UTF-8"),
              lit("zip"))
            .when(substring(col("__b"), 1, 2) === unhex(lit("1f8b")), lit("gzip"))
            .when(substring(col("__b"), 1, 2) === unhex(lit("1f9d")), lit("lzw"))
            .when(substring(col("__b"), 1, 4) === unhex(lit("04224d18")),
              lit("lz4"))
            .when(substring(col("__b"), 1, 4) === unhex(lit("89504e47")),
              lit("image"))
            .when(substring(col("__b"), 1, 4) === encode(lit("RIFF"), "UTF-8"),
              lit("audio"))
            .when(substring(col("__b"), 1, 4) === unhex(lit("4f626a01")),
              lit("avro"))
            .when(substring(col("__b"), 258, 5) === encode(lit("ustar"), "UTF-8"),
              lit("tar"))
            .when(substring(col("__b"), 1, 4) === unhex(lit("28b52ffd")),
              lit("zstd"))
            .when(substring(col("__b"), 1, 8) === unhex(lit("d0cf11e0a1b11ae1")),
              // the magic says "Office-era container"; the directory
              // names say which Office lane (r17). Identical
              // cfb_entries calls collapse under codegen subexpression
              // elimination — one walk per row.
              coalesce(
                when(array_contains(transform(
                  Kernels.cfbEntries(col("__b")),
                  e => e.getField("name")), "Workbook"), lit("xls"))
                  .when(array_contains(transform(
                    Kernels.cfbEntries(col("__b")),
                    e => e.getField("name")), "WordDocument"), lit("doc"))
                  .when(array_contains(transform(
                    Kernels.cfbEntries(col("__b")),
                    e => e.getField("name")), "PowerPoint Document"),
                    lit("ppt")),
                lit("cfb")))
            .when(substring(col("__b"), 1, 4) === encode(lit("PAR1"), "UTF-8"),
              lit("parquet"))
            .when(substring(col("__b"), 1, 6) === unhex(lit("377abcaf271c")),
              lit("7z"))
            .when(substring(col("__b"), 1, 6) === unhex(lit("526172211a07")),
              lit("rar"))
            .otherwise(lit("unknown")).as("__mk"))
        .select(col("doc_id"), col("__mk"),
          when(col("__mk") === "pdf",
            Kernels.pdfMeta(col("__b")).getField("n_pages").cast("bigint"))
            .when(col("__mk") === "zip",
              size(Kernels.zipEntries(col("__b"))).cast("bigint"))
            .when(col("__mk") === "gzip",
              length(Kernels.gunzip(col("__b"))).cast("bigint"))
            .when(col("__mk") === "lzw",
              length(Kernels.lzwDecompress(col("__b"))).cast("bigint"))
            .when(col("__mk") === "lz4",
              length(Kernels.lz4Decompress(col("__b"))).cast("bigint"))
            .when(col("__mk") === "image",
              Kernels.imageMeta(col("__b")).getField("width").cast("bigint"))
            .when(col("__mk") === "audio",
              Kernels.audioMeta(col("__b")).getField("sample_rate").cast("bigint"))
            .when(col("__mk") === "avro",
              Kernels.avroMeta(col("__b")).getField("n_records").cast("bigint"))
            .when(col("__mk") === "tar",
              size(Kernels.tarEntries(col("__b"))).cast("bigint"))
            .when(col("__mk") === "zstd",
              length(Kernels.zstdDecompress(col("__b"))).cast("bigint"))
            .when(col("__mk") === "doc",
              length(Kernels.docText(col("__b"))).cast("bigint"))
            .when(col("__mk") === "xls",
              size(Kernels.xlsCells(col("__b"))).cast("bigint"))
            .when(col("__mk") === "ppt",
              length(Kernels.pptText(col("__b"))).cast("bigint"))
            .when(col("__mk") === "cfb",
              size(Kernels.cfbEntries(col("__b"))).cast("bigint"))
            .when(col("__mk") === "parquet",
              Kernels.parquetMeta(col("__b")).getField("num_rows")
                .cast("bigint"))
            .when(col("__mk") === "7z",
              Kernels.sevenZipMeta(col("__b")).getField("pack_bytes")
                .cast("bigint"))
            .when(col("__mk") === "rar",
              Kernels.rarMeta(col("__b")).getField("n_files")
                .cast("bigint"))
            .as("detail"))
        .select(col("doc_id"),
          when(col("detail").isNotNull, col("__mk"))
            .otherwise(lit("unknown")).as("kind"),
          col("detail"))
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE doc_id % 18
           |    WHEN 0 THEN 'pdf' WHEN 1 THEN 'zip' WHEN 2 THEN 'tar'
           |    WHEN 3 THEN 'gzip' WHEN 4 THEN 'image' WHEN 5 THEN 'audio'
           |    WHEN 6 THEN 'avro' WHEN 7 THEN 'zstd' WHEN 8 THEN 'doc'
           |    WHEN 9 THEN 'parquet' WHEN 10 THEN 'xls' WHEN 11 THEN 'ppt'
           |    WHEN 12 THEN 'cfb' WHEN 13 THEN '7z' WHEN 14 THEN 'rar'
           |    WHEN 15 THEN 'lzw' WHEN 16 THEN 'lz4'
           |    ELSE 'unknown' END AS kind,
           |  CAST(CASE doc_id % 18
           |    WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 1
           |    WHEN 3 THEN 19 WHEN 4 THEN 1 WHEN 5 THEN 8000
           |    WHEN 6 THEN 5
           |    WHEN 7 THEN length('zstd doc ' || doc_id)
           |    WHEN 8 THEN length('router doc') WHEN 9 THEN 7
           |    WHEN 10 THEN 3 WHEN 11 THEN length('router deck')
           |    WHEN 12 THEN 3 WHEN 13 THEN 300 WHEN 14 THEN 2
           |    WHEN 15 THEN length('lzw doc ' || doc_id)
           |    WHEN 16 THEN length('lz4 doc ' || doc_id)
           |    ELSE NULL END AS BIGINT) AS detail
           |FROM documents""".stripMargin))

  /** IDN canonicalization under the oracle (r14): unicode hosts fold
    * to their RFC 3492 punycode ACE form inside [[Kernels.urlParts]], so a
    * crawl that sees `bücher.example` and `xn--bcher-kva.example`
    * dedups them to ONE key — asserted in-plan by `ace_equal`
    * (normalized(unicode form) == normalized(ACE form), per row). The
    * oracle carries the published ACE vectors for four scripts.
    */
  private val qUrlIdn = Q("q_url_idn",
    (s, dir) => {
      val id = col("doc_id")
      val hosts = Seq("bücher.example", "münchen.de", "пример.рф",
        "例え.jp", "plain.example")
      val aces = Seq("xn--bcher-kva.example", "xn--mnchen-3ya.de",
        "xn--e1afmkfd.xn--p1ai", "xn--r8jz45g.jp", "plain.example")
      val hi = (pmod(id, lit(5)) + 1).cast("int")
      val url = concat(lit("https://"), element_at(typedlit(hosts), hi),
        lit("/p/"), id.cast("string"))
      val aceUrl = concat(lit("https://"), element_at(typedlit(aces), hi),
        lit("/p/"), id.cast("string"))
      t(s, dir, "documents").select(id.cast("bigint").as("doc_id"),
        Kernels.urlParts(url).getField("normalized").as("url"),
        Kernels.urlParts(url).getField("host").as("host"),
        (Kernels.urlParts(url).getField("normalized") ===
          Kernels.urlParts(aceUrl).getField("normalized")).as("ace_equal"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id,
           |         ['xn--bcher-kva.example','xn--mnchen-3ya.de',
           |          'xn--e1afmkfd.xn--p1ai','xn--r8jz45g.jp','plain.example']
           |           [CAST(doc_id % 5 AS INT) + 1] AS ace
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       'https://' || ace || '/p/' || doc_id AS url,
           |       ace AS host,
           |       true AS ace_equal
           |FROM c""".stripMargin))

  /** JSON structure profiling under the oracle (r14):
    * [[Kernels.jsonPaths]] — the semi-structured ANALYZE run before
    * committing a parquet schema to scraped JSON. Per-doc documents
    * carry nested objects, an array whose SECOND element alternates
    * string/number across docs (the mixed-type case the profile
    * exists to surface), a non-identifier key (bracket path form),
    * and an explicit null; every 11th doc is malformed and groups
    * under the visible (NULL, NULL) row. One projection + explode +
    * one aggregation; the oracle recomputes every (path, type, n)
    * cell arithmetically.
    */
  private val qJsonProfile = Q("q_json_profile",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val word = element_at(typedlit(Seq("alpha", "beta", "gamma")),
        (pmod(id, lit(3)) + 1).cast("int"))
      val doc = concat(
        lit("{\"id\": "), idS,
        lit(", \"meta\": {\"lang\": \""), word,
        lit("\", \"score\": "), pmod(id, lit(7)).cast("string"),
        lit(".5}, \"tags\": [\"t"), pmod(id, lit(3)).cast("string"),
        lit("\", "),
        when(pmod(id, lit(2)) === 0, idS)
          .otherwise(concat(lit("\"s"), idS, lit("\""))),
        lit("], \"odd key!\": null}"))
      val page = when(pmod(id, lit(11)) === 0, substring(doc, 1, 20))
        .otherwise(doc)
      t(s, dir, "documents")
        .select(explode_outer(Kernels.jsonPaths(page)).as("p"))
        .groupBy(col("p.path").as("path"), col("p.jtype").as("jtype"))
        .agg(count(lit(1)).cast("bigint").as("n"))
    },
    Some("""WITH c AS (
           |  SELECT count(*) AS total,
           |         count(*) FILTER (doc_id % 11 = 0) AS bad,
           |         count(*) FILTER (doc_id % 11 <> 0) AS ok,
           |         count(*) FILTER (doc_id % 11 <> 0 AND doc_id % 2 = 0) AS oknum
           |  FROM documents)
           |SELECT path, jtype, CAST(n AS BIGINT) AS n FROM (
           |  SELECT '$' AS path, 'object' AS jtype, ok AS n FROM c
           |  UNION ALL SELECT '$.id', 'number', ok FROM c
           |  UNION ALL SELECT '$.meta', 'object', ok FROM c
           |  UNION ALL SELECT '$.meta.lang', 'string', ok FROM c
           |  UNION ALL SELECT '$.meta.score', 'number', ok FROM c
           |  UNION ALL SELECT '$.tags', 'array', ok FROM c
           |  UNION ALL SELECT '$.tags[*]', 'string', ok FROM c
           |  UNION ALL SELECT '$.tags[*]', 'number', oknum FROM c
           |  UNION ALL SELECT '$[''odd key!'']', 'null', ok FROM c
           |  UNION ALL SELECT NULL, NULL, bad FROM c)
           |WHERE n > 0""".stripMargin))

  /** TAR ingest under the oracle (r14): a two-member ustar archive —
    * real headers with VERIFIED checksums (content is padded to a
    * fixed 64 bytes, so every header byte except the payload is a
    * plan-time constant and the checksum is exact), per-doc member
    * text, end-of-archive zero blocks — pulled back through
    * [[Kernels.tarEntries]] + [[Kernels.tarExtract]]. Every 4th
    * doc instead carries a `.tar.gz` (fixed archive, decoded in-plan
    * through [[Kernels.gunzip]] — the chain crawled datasets
    * actually arrive as); every 7th truncates mid-member → all-NULL.
    */
  private val qTarExtract = Q("q_tar_extract",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val word = element_at(typedlit(Seq("alpha", "beta", "gamma")),
        (pmod(id, lit(3)) + 1).cast("int"))
      def hdr(name: String, size: Int, typeflag: Char = '0'): Array[Byte] = {
        val h = new Array[Byte](512)
        def put(off: Int, sArr: String): Unit = {
          val bs = sArr.getBytes("ISO-8859-1")
          System.arraycopy(bs, 0, h, off, bs.length)
        }
        put(0, name)
        put(100, "0000644\u0000"); put(108, "0000000\u0000"); put(116, "0000000\u0000")
        put(124, f"$size%011o" + "\u0000")
        put(136, "00000000000\u0000")
        h(156) = typeflag.toByte
        put(257, "ustar\u000000")
        java.util.Arrays.fill(h, 148, 156, ' '.toByte)
        var sum = 0L
        h.foreach(b => sum += (b & 0xff))
        put(148, f"$sum%06o" + "\u0000 ")
        h
      }
      val readme = "archive readme: graft r14\n".getBytes("UTF-8")
      val readmeBlock = java.util.Arrays.copyOf(readme, 512)
      val zeros1024 = new Array[Byte](1024)
      val h1 = hdr("data/doc.txt", 64)
      val h2 = hdr("README", readme.length)
      val content = rpad(concat(lit("tar doc "), idS, lit(" says "), word),
        64, " ")
      val tarBin = concat(
        unhex(lit(hexOf(h1))), encode(content, "UTF-8"),
        unhex(lit(hexOf(new Array[Byte](448)))),
        unhex(lit(hexOf(h2))), unhex(lit(hexOf(readmeBlock))),
        unhex(lit(hexOf(zeros1024))))
      // the .tar.gz branch: a fixed archive gzipped at plan build
      val tgzHex = {
        val hh = hdr("gz/member.txt", 13)
        val data = java.util.Arrays.copyOf("gz tar member".getBytes("UTF-8"), 512)
        val tar = hh ++ data ++ new Array[Byte](1024)
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(tar); g.close()
        hexOf(bos.toByteArray)
      }
      val blob0 = when(pmod(id, lit(4)) === 1,
          Kernels.gunzip(unhex(lit(tgzHex))))
        .otherwise(tarBin)
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), pmod(id, lit(4)).as("__m4"),
          when(pmod(id, lit(7)) === 0, substring(blob0, 1, 600))
            .otherwise(blob0).as("__tar"))
        .select(col("doc_id"), col("__m4"), col("__tar"),
          Kernels.tarEntries(col("__tar")).as("__es"))
        .select(col("doc_id"),
          size(col("__es")).cast("bigint").as("n_members"),
          element_at(col("__es"), 1).getField("name").as("name0"),
          rtrim(decode(Kernels.tarExtract(col("__tar"),
            when(col("__m4") === 1, lit("gz/member.txt"))
              .otherwise(lit("data/doc.txt"))), "UTF-8")).as("text"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, doc_id % 7 = 0 AS tr, doc_id % 4 = 1 AS gz,
           |         ['alpha','beta','gamma'][CAST(doc_id % 3 AS INT) + 1] AS word
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CAST(CASE WHEN tr THEN NULL WHEN gz THEN 1 ELSE 2 END AS BIGINT) AS n_members,
           |  CASE WHEN tr THEN NULL WHEN gz THEN 'gz/member.txt'
           |       ELSE 'data/doc.txt' END AS name0,
           |  CASE WHEN tr THEN NULL WHEN gz THEN 'gz tar member'
           |       ELSE 'tar doc ' || doc_id || ' says ' || word END AS text
           |FROM c""".stripMargin))

  /** One-member stored ZIP (local header, central directory, end
    * record, real CRC and offsets) around each row's `__c1` bytes under
    * the member name `name`, as `doc_id, __zip`; every 7th doc's
    * archive is cut to its first 40 bytes. Built in LAYERED projections
    * (SCALING.md, "In-plan construction needs NAMED layers"): the
    * member's CRC and length, the local header and directory, then the
    * archive each have their own select, so none is copied into the
    * plan at every use. */
  private def storedZipOne(members: DataFrame, name: String): DataFrame = {
    def le16(v: Column): Column = leCol(v, 2)
    def le32(v: Column): Column = leCol(v, 4)
    val (c1, crc, len) = (col("__c1"), col("__crc"), col("__len"))
    val (l1, cd, zip0) = (col("__l1"), col("__cd"), col("__zip0"))
    members
      .select(col("doc_id"), c1, crc32(c1).as("__crc"), length(c1).as("__len"))
      .select(col("doc_id"),
        concat(
          unhex(lit("504b0304")), le16(lit(20)), le16(lit(0)), le16(lit(0)),
          le16(lit(0)), le16(lit(0)), le32(crc), le32(len), le32(len),
          le16(lit(name.length)), le16(lit(0)), encode(lit(name), "UTF-8"),
          c1).as("__l1"),
        concat(
          unhex(lit("504b0102")), le16(lit(20)), le16(lit(20)), le16(lit(0)),
          le16(lit(0)), le16(lit(0)), le16(lit(0)), le32(crc), le32(len),
          le32(len), le16(lit(name.length)), le16(lit(0)), le16(lit(0)),
          le16(lit(0)), le16(lit(0)), le32(lit(0)), le32(lit(0)),
          encode(lit(name), "UTF-8")).as("__cd"))
      .select(col("doc_id"),
        concat(l1, cd, unhex(lit("504b0506")), le16(lit(0)), le16(lit(0)),
          le16(lit(1)), le16(lit(1)), le32(length(cd)), le32(length(l1)),
          le16(lit(0))).as("__zip0"))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0, substring(zip0, 1, 40))
          .otherwise(zip0).as("__zip"))
  }

  /** Office-document text under the oracle (r14): the docx/epub chain
    * COMPOSED from the r14 pieces — an OOXML-shaped archive (stored
    * ZIP carrying `word/document.xml`, real in-plan CRC/offsets as in
    * q_zip_extract) → [[Kernels.zipExtract]] → [[Kernels.decodeText]] →
    * [[Kernels.htmlExtract]] (tag strip + entity decode + whitespace
    * collapse works on XML exactly as on HTML). Every 7th doc
    * truncates the archive → NULL text. Zero new kernels: the point
    * is that the container, decode, and text layers compose.
    */
  private val qDocxText = Q("q_docx_text",
    (s, dir) => {
      val id = col("doc_id")
      val word = element_at(typedlit(Seq("alpha", "beta", "gamma")),
        (pmod(id, lit(3)) + 1).cast("int"))
      val xml = concat(
        lit("<w:document><w:body>\n<w:p><w:r><w:t>docx body "), id.cast("string"),
        lit("</w:t></w:r></w:p>\n<w:p><w:r><w:t>"), word,
        lit(" &amp; paragraph</w:t></w:r></w:p>\n</w:body></w:document>"))
      storedZipOne(t(s, dir, "documents")
          .select(id, encode(xml, "UTF-8").as("__c1")), "word/document.xml")
        .select(id.cast("bigint").as("doc_id"),
          Kernels.htmlExtract(Kernels.decodeText(
            Kernels.zipExtract(col("__zip"), lit("word/document.xml")))
            .getField("text")).as("text"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, doc_id % 7 = 0 AS tr,
           |         ['alpha','beta','gamma'][CAST(doc_id % 3 AS INT) + 1] AS word
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE WHEN tr THEN NULL
           |       ELSE 'docx body ' || doc_id || chr(10) || word || ' & paragraph'
           |       END AS text
           |FROM c""".stripMargin))

  /** PPTX slide text under the oracle (round 17) — the OOXML trio's
    * third member (docx r14, xlsx r15): a one-member stored ZIP built
    * in-plan (real CRC/offsets) whose `ppt/slides/slide1.xml` carries
    * per-doc DrawingML runs — split runs inside one paragraph, an
    * entity, an empty `<a:t/>`, and a second paragraph. Every 7th doc
    * truncates the archive → NULL. */
  private val qPptxText = Q("q_pptx_text",
    (s, dir) => {
      val id = col("doc_id")
      val word = element_at(typedlit(Seq("alpha", "beta", "gamma")),
        (pmod(id, lit(3)) + 1).cast("int"))
      val xml = concat(
        lit("<p:sld><p:cSld><a:p><a:t>deck "), id.cast("string"),
        lit("</a:t><a:r/><a:t/><a:t> &amp; "), word,
        lit("</a:t></a:p><a:p><a:t>closing line</a:t></a:p>" +
          "</p:cSld></p:sld>"))
      storedZipOne(t(s, dir, "documents")
          .select(id, encode(xml, "UTF-8").as("__c1")), "ppt/slides/slide1.xml")
        .select(id.cast("bigint").as("doc_id"),
          Kernels.pptxText(col("__zip")).as("text"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, doc_id % 7 = 0 AS tr,
           |         ['alpha','beta','gamma'][CAST(doc_id % 3 AS INT) + 1] AS word
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE WHEN tr THEN NULL
           |       ELSE 'deck ' || doc_id || ' & ' || word || chr(10) ||
           |            'closing line'
           |       END AS text
           |FROM c""".stripMargin))

  /** XLSX cell extraction under the oracle (round 15): the docx
    * container chain extended with the SpreadsheetML cell model — a
    * two-member stored ZIP built in-plan (real CRC/offsets, as in
    * q_docx_text) carrying `xl/sharedStrings.xml` (constant string
    * table: header cells + an `&amp;` entity) and a per-doc
    * `xl/worksheets/sheet1.xml` mixing shared-string, inline-string,
    * numeric, and formula-string cells on SPARSE ref-addressed
    * columns (A1/C1, skipping B1 — positional parsing would misplace
    * them). Every 9th doc truncates the archive → ONE all-NULL row
    * (explode_outer + the whole-blob fail-closed contract). The
    * oracle recomputes all five cells per doc arithmetically.
    */
  private val qXlsxCells = Q("q_xlsx_cells",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val word = element_at(typedlit(Seq("alpha", "beta", "gamma")),
        (pmod(id, lit(3)) + 1).cast("int"))
      def le16(v: Column): Column = leCol(v, 2)
      def le32(v: Column): Column = leCol(v, 4)
      // member 1 (sharedStrings.xml) is CONSTANT — its local header and
      // central-directory entry fold to literals at plan build. Only the
      // per-doc sheet member is constructed in-plan, and that follows
      // the LAYERED-projection rule (SCALING.md r14: inlined, the CRC —
      // and the encode beneath it — re-expands once per little-endian
      // byte and the projection falls out of codegen).
      val n1 = "xl/sharedStrings.xml"
      val shared = ("<sst count=\"2\" uniqueCount=\"2\">" +
        "<si><t>name</t></si><si><t>count &amp; total</t></si></sst>")
        .getBytes("UTF-8")
      val crc1 = { val c = new java.util.zip.CRC32; c.update(shared); c.getValue }
      def leB(v: Long, n: Int): Array[Byte] =
        Array.tabulate(n)(i => ((v >>> (8 * i)) & 0xff).toByte)
      val l1Bytes = Array[Byte](0x50, 0x4b, 3, 4) ++ leB(20, 2) ++
        leB(0, 2) ++ leB(0, 2) ++ leB(0, 2) ++ leB(0, 2) ++ leB(crc1, 4) ++
        leB(shared.length, 4) ++ leB(shared.length, 4) ++
        leB(n1.length, 2) ++ leB(0, 2) ++ n1.getBytes("UTF-8") ++ shared
      val cd1Bytes = Array[Byte](0x50, 0x4b, 1, 2) ++ leB(20, 2) ++
        leB(20, 2) ++ leB(0, 2) ++ leB(0, 2) ++ leB(0, 2) ++ leB(0, 2) ++
        leB(crc1, 4) ++ leB(shared.length, 4) ++ leB(shared.length, 4) ++
        leB(n1.length, 2) ++ leB(0, 2) ++ leB(0, 2) ++ leB(0, 2) ++
        leB(0, 2) ++ leB(0, 4) ++ leB(0, 4) ++ n1.getBytes("UTF-8")
      val n2 = "xl/worksheets/sheet1.xml"
      val sheet = concat(
        lit("<worksheet><sheetData>" +
          "<row r=\"1\"><c r=\"A1\" t=\"s\"><v>0</v></c>" +
          "<c r=\"C1\" t=\"s\"><v>1</v></c></row>" +
          "<row r=\"2\"><c r=\"A2\" t=\"inlineStr\"><is><t>doc "), idS,
        lit(" &amp; co</t></is></c><c r=\"B2\"><v>"),
        pmod(id, lit(7)).cast("string"),
        lit("</v></c><c r=\"C2\" t=\"str\"><v>w-"), word,
        lit("</v></c></row></sheetData></worksheet>"))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"),
          (pmod(id, lit(9)) === 0).as("__tr"),
          encode(sheet, "UTF-8").as("__c2"))
        .select(col("*"),
          crc32(col("__c2")).as("__r2"), length(col("__c2")).as("__s2"))
        .select(col("doc_id"), col("__tr"), col("__r2"), col("__s2"),
          concat(unhex(lit("504b0304")), le16(lit(20)), le16(lit(0)),
            le16(lit(0)), le16(lit(0)), le16(lit(0)), le32(col("__r2")),
            le32(col("__s2")), le32(col("__s2")), le16(lit(n2.length)),
            le16(lit(0)), encode(lit(n2), "UTF-8"), col("__c2")).as("__l2"))
        .select(col("doc_id"), col("__tr"), col("__l2"),
          concat(unhex(lit(hexOf(cd1Bytes))),
            unhex(lit("504b0102")), le16(lit(20)), le16(lit(20)),
            le16(lit(0)), le16(lit(0)), le16(lit(0)), le16(lit(0)),
            le32(col("__r2")), le32(col("__s2")), le32(col("__s2")),
            le16(lit(n2.length)), le16(lit(0)), le16(lit(0)), le16(lit(0)),
            le16(lit(0)), le32(lit(0)), le32(lit(l1Bytes.length)),
            encode(lit(n2), "UTF-8")).as("__cd"))
        .select(col("doc_id"), col("__tr"),
          concat(unhex(lit(hexOf(l1Bytes))), col("__l2"), col("__cd"),
            unhex(lit("504b0506")), le16(lit(0)), le16(lit(0)),
            le16(lit(2)), le16(lit(2)), le32(length(col("__cd"))),
            le32(length(col("__l2")) + lit(l1Bytes.length)), le16(lit(0)))
            .as("__zip0"))
        .select(col("doc_id"),
          explode_outer(Kernels.xlsxCells(
            when(col("__tr"), substring(col("__zip0"), 1, 60))
              .otherwise(col("__zip0")))).as("c"))
        .select(col("doc_id"),
          col("c.row").cast("bigint").as("row"),
          col("c.col").cast("bigint").as("col"),
          col("c.value").as("value"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, doc_id % 9 = 0 AS tr,
           |         ['alpha','beta','gamma'][CAST(doc_id % 3 AS INT) + 1] AS word
           |  FROM documents),
           |cells AS (
           |  SELECT doc_id, 0 AS r, 0 AS cl, 'name' AS v FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 0, 2, 'count & total' FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 1, 0, 'doc ' || doc_id || ' & co' FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 1, 1, CAST(doc_id % 7 AS VARCHAR) FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 1, 2, 'w-' || word FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, NULL, NULL, NULL FROM c WHERE tr)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(r AS BIGINT) AS row,
           |       CAST(cl AS BIGINT) AS col, v AS value
           |FROM cells""".stripMargin))

  /** Legacy `.xls` cell extraction under the oracle (round 17,
    * VERDICT r16 #2): REAL BIFF8 workbooks — CFB container, globals
    * substream, SST (with a forced Continue split in the compressed
    * lane), BoundSheet8, worksheet substreams — built by the in-repo
    * writers at plan time, with the doc_id SPLICED into a fixed-width
    * SST slot in-plan (the q_doc_text pattern: layout is length-
    * invariant, one template serves every doc). Six lanes: a unicode
    * workbook exercising every cell record type (LabelSst/Number/
    * RK×100/MulRk/Label/BoolErr/Formula num+str), a compressed-SST
    * workbook whose string table spans a Continue record, FilePass
    * (encrypted) refusal, BIFF5 refusal, non-CFB junk, and a
    * second-sheet read — refusal lanes surface as ONE all-NULL row
    * via explode_outer. */
  private val qXlsCells = Q("q_xls_cells",
    (s, dir) => {
      import graft.functions.XlsKernels
      import graft.functions.XlsKernels._
      val id = col("doc_id")
      val idS = id.cast("string")
      val m = pmod(id, lit(6))
      val marker = "0000000"
      def splice(blob: Array[Byte], needle: Array[Byte],
                 repl: Column): Column = {
        val at = blob.indexOfSlice(needle)
        require(at >= 0 &&
          blob.indexOfSlice(needle, at + 1) < 0, "marker not unique")
        concat(unhex(lit(hexOf(blob.take(at)))), repl,
          unhex(lit(hexOf(blob.drop(at + needle.length)))))
      }
      val wbU = XlsKernels.build(Seq(Seq(
        XSst(0, 0, s"xls δ $marker ✓"),
        XNum(1, 1, 2.5),
        XRkInt(2, 2, 123456, x100 = true),
        XMulRk(3, 3, Seq(7, 8, 9)),
        XLabelC(4, 4, "inline label"),
        XBool(5, 5, v = true),
        XErr(6, 5, 0x07),
        XFormulaNum(7, 6, 42.0),
        XFormulaStr(8, 6, "fx result"))))
      val wbC = XlsKernels.build(Seq(Seq(
        XSst(0, 0, s"$marker continued tail str"),
        XSst(0, 1, "second sst"),
        XNum(1, 2, -3.75),
        XRkInt(1, 3, -42))), sstSplit = 10)
      val wbEnc = XlsKernels.build(Seq(Seq(XNum(0, 0, 1))), filePass = true)
      val wb5 = XlsKernels.build(Seq(Seq(XNum(0, 0, 1))), biff5 = true)
      val wb2 = XlsKernels.build(Seq(
        Seq(XLabelC(0, 0, "first")),
        Seq(XLabelC(0, 0, "on sheet two"), XNum(0, 1, 9.0))))
      val pad7 = lpad(idS, 7, "0")
      val d0 = splice(wbU,
        marker.getBytes(java.nio.charset.StandardCharsets.UTF_16LE),
        encode(pad7, "UTF-16LE"))
      val d1 = splice(wbC, marker.getBytes("ISO-8859-1"),
        encode(pad7, "ISO-8859-1"))
      val blob = when(m === 0, d0)
        .when(m === 1, d1)
        .when(m === 2, unhex(lit(hexOf(wbEnc))))
        .when(m === 3, unhex(lit(hexOf(wb5))))
        .when(m === 4, encode(concat(lit("not an xls "), idS), "UTF-8"))
        .otherwise(unhex(lit(hexOf(wb2))))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), m.as("__m"), blob.as("__b"))
        .select(col("doc_id"),
          explode_outer(when(col("__m") === 5,
            Kernels.xlsCells(col("__b"), 2))
            .otherwise(Kernels.xlsCells(col("__b")))).as("c"))
        .select(col("doc_id"),
          col("c.row").cast("bigint").as("row"),
          col("c.col").cast("bigint").as("col"),
          col("c.value").as("value"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, CAST(doc_id % 6 AS INT) AS m,
           |         lpad(CAST(doc_id AS VARCHAR), 7, '0') AS pad
           |  FROM documents),
           |cells AS (
           |  SELECT doc_id, 0 AS r, 0 AS cl, 'xls δ ' || pad || ' ✓' AS v
           |    FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 1, 1, '2.5' FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 2, 2, '1234.56' FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 3, 3, '7' FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 3, 4, '8' FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 3, 5, '9' FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 4, 4, 'inline label' FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 5, 5, 'TRUE' FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 6, 5, '#DIV/0!' FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 7, 6, '42' FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 8, 6, 'fx result' FROM c WHERE m = 0
           |  UNION ALL SELECT doc_id, 0, 0, pad || ' continued tail str'
           |    FROM c WHERE m = 1
           |  UNION ALL SELECT doc_id, 0, 1, 'second sst' FROM c WHERE m = 1
           |  UNION ALL SELECT doc_id, 1, 2, '-3.75' FROM c WHERE m = 1
           |  UNION ALL SELECT doc_id, 1, 3, '-42' FROM c WHERE m = 1
           |  UNION ALL SELECT doc_id, 0, 0, 'on sheet two' FROM c WHERE m = 5
           |  UNION ALL SELECT doc_id, 0, 1, '9' FROM c WHERE m = 5
           |  UNION ALL SELECT doc_id, NULL, NULL, NULL FROM c WHERE m IN (2, 3, 4))
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(r AS BIGINT) AS row,
           |       CAST(cl AS BIGINT) AS col, v AS value
           |FROM cells""".stripMargin))

  /** HTML table extraction under the oracle (r14): [[Kernels.htmlTables]]
    * over in-plan pages carrying a 3-row table with OMITTED closing
    * tags (the HTML-legal form), an `&amp;` entity in a header cell,
    * markup inside cells that must contribute only its text — plus a
    * NESTED table whose text must land in ITS OWN cells (tables
    * numbered in document order), and a mid-table truncation every
    * 11th doc that must come back as one all-NULL row (fail-closed).
    * One projection + explode; the oracle recomputes all nine cells
    * per doc arithmetically.
    */
  private val qHtmlTables = Q("q_html_tables",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val word = element_at(typedlit(Seq("red", "green", "blue")),
        (pmod(id, lit(3)) + 1).cast("int"))
      val html = concat(
        lit("<html><body><p>pre</p>" +
          "<table><tr><th>name</th><th>count &amp; total</th></tr>" +
          "<tr><td>doc "), idS, lit("</td><td>"),
        pmod(id, lit(7)).cast("string"),
        lit("</td><tr><td><a href=\"/x\">linked "), idS,
        lit("</a><td> "), word,
        lit(" </table><p>mid</p>" +
          "<table><tr><td>outer A<table><tr><td>inner "), idS,
        lit("</td></tr></table><td>outer B</td></tr></table></body></html>"))
      val page = when(pmod(id, lit(11)) === 0, substring(html, 1, 60))
        .otherwise(html)
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"),
          explode_outer(Kernels.htmlTables(page)).as("c"))
        .select(col("doc_id"),
          col("c.table").cast("bigint").as("tbl"),
          col("c.row").cast("bigint").as("row"),
          col("c.col").cast("bigint").as("col"),
          col("c.text").as("text"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, doc_id % 11 = 0 AS tr,
           |         ['red','green','blue'][CAST(doc_id % 3 AS INT) + 1] AS word
           |  FROM documents),
           |cells AS (
           |  SELECT doc_id, 0 AS tbl, 0 AS row_, 0 AS col_, 'name' AS text FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 0, 0, 1, 'count & total' FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 0, 1, 0, 'doc ' || doc_id FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 0, 1, 1, CAST(doc_id % 7 AS VARCHAR) FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 0, 2, 0, 'linked ' || doc_id FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 0, 2, 1, word FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 1, 0, 0, 'outer A' FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 1, 0, 1, 'outer B' FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, 2, 0, 0, 'inner ' || doc_id FROM c WHERE NOT tr
           |  UNION ALL SELECT doc_id, NULL, NULL, NULL, NULL FROM c WHERE tr)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(tbl AS BIGINT) AS tbl,
           |       CAST(row_ AS BIGINT) AS row, CAST(col_ AS BIGINT) AS col, text
           |FROM cells""".stripMargin))

  /** Perceptual image near-dup under the oracle (r14): one 9×8 PGM
    * (P5) image per doc with quadratic-residue pixels — every 10th
    * doc replicates its predecessor's image with a TWO-PIXEL edit (a
    * planted near-dup within a few dHash bits; the pattern's own
    * structural near-collisions join them, all verified bit-exact),
    * every 13th doc is undecodable
    * junk (NULL hash, no pairs, never a guess) —
    * [[Dedup.sketchPairs]] finds the planted pairs via the
    * banded Hamming join (8 bands × 8 bits, pigeonhole-lossless at
    * maxHamming 6). The oracle recomputes every pixel, every luma
    * cell, all 64 gradient bits, the signed 64-bit pack, and the
    * brute-force Hamming pairs — the banded path must match it
    * exactly.
    */
  /** The shared in-plan 9×8 PGM image family of q_image_phash and
    * q_incremental_phash: quadratic-residue pixels per doc, every 10th
    * doc a two-pixel-edited near-dup of its predecessor, every 13th
    * undecodable junk. Kept in ONE place so both oracles replay one
    * pixel formula. */
  private def phashDocImage(id: Column): Column = {
    // quadratic residue mod a prime covering every SF's id range: a
    // LINEAR pattern has constant adjacent-pixel differences
    // (near-identical gradient hashes corpus-wide — measured 10k
    // accidental pairs); the quadratic decorrelates docs while staying
    // exact in-plan integer arithmetic under ANSI mode
    val base = when(pmod(id, lit(10)) === 1, id - 1).otherwise(id)
    val isDup = pmod(id, lit(10)) === 1
    // ONE lambda over sequence(0,71) instead of a 72-term concat: the
    // expanded form blew whole-stage codegen's 64 KB method limit
    // (observed r15 — the stage fell back with a Janino error on every
    // run). transform is a higher-order function (interpreted lambda),
    // but the expression tree is ~72x smaller, the surrounding stage
    // stays inside codegen, and the arithmetic — hence the oracle — is
    // unchanged.
    val pixels = unhex(array_join(transform(sequence(lit(0), lit(71)), p => {
      val v = pmod(base * 131 + p * 197, lit(65521))
      val g0 = pmod(pmod(v * v, lit(65521)) + p * 13, lit(256))
      val pert = when(isDup && p === 0, 60L)
        .when(isDup && p === 40, 75L).otherwise(0L)
      lpad(hex(pmod(g0 + pert, lit(256))), 2, "0")
    }), ""))
    when(pmod(id, lit(13)) === 0, encode(lit("notanimage"), "UTF-8"))
      .otherwise(concat(encode(lit("P5\n9 8\n255\n"), "UTF-8"), pixels))
  }

  private val qImagePhash = Q("q_image_phash",
    (s, dir) => {
      val id = col("doc_id")
      val img = phashDocImage(id)
      // round 15: CODEC fixture rows (negative ids) — the same grid as
      // their base doc, but encoded as real PNG/GIF/TIFF/DC-only-JPEG
      // blobs driver-side, so the banded join must pair a crawled-format
      // image with its PGM twin at Hamming 0 (and the tweaked PNG at a
      // few bits). One truncated PNG (id -9999) must hash NULL and
      // appear in no pair. The oracle replays only grid arithmetic.
      val fixtures: Seq[(Long, Array[Byte])] =
        OracleSqlGen.phashFixtures.map { f =>
          val px = Array.tabulate(72) { p =>
            val v = (f.base * 131 + p * 197) % 65521
            val g0 = ((v * v) % 65521 + p * 13) % 256
            (if (p == f.tweakP) (g0 + f.tweakDelta) % 256 else g0).toInt
          }
          val blob = f.fmt match {
            case "png" => graft.functions.ImageEncoders.pngGray(9, 8, px)
            case "gif" => graft.functions.ImageEncoders.gifGray(9, 8, px)
            case "tiff" => graft.functions.ImageEncoders.tiffGray(9, 8, px)
            case "jpeg" => graft.functions.ImageEncoders.jpegGrayBlocks(
              Array.tabulate(8, 9)((r, c) => px(r * 9 + c)))
            case "webp" => graft.functions.WebpKernels.encodeLossless(9, 8,
              px.map(g => 0xff000000 | (g << 16) | (g << 8) | g))
          }
          (f.id, blob)
        } :+ ((-9999L, graft.functions.ImageEncoders
          .pngGray(9, 8, Array.tabulate(72)(p => (p * 29) % 256)).take(20)))
      val fxDf = s.createDataFrame(fixtures).toDF("doc_id", "img")
      // r17 opt: fan the id projection out before the raster is built —
      // the per-doc encode+dhash decode parallelizes (guide §2.5); the
      // few driver-side fixture rows union in after. r18 cost gate:
      // 8 KB/task — one encode+decode per row; PERF r17's 8-core run
      // beat the 32-way fan-out (ratio 0.53), so ~8 tasks at this SF
      // is the sweet spot and larger inputs still scale to all cores.
      val imgs = Ops.fanOutForCompute(
          t(s, dir, "documents").select(id.cast("bigint").as("doc_id")),
          8 * 1024L, col("doc_id"))
        .select(col("doc_id"), img.as("img"))
        .unionAll(fxDf)
      Dedup.sketchPairs(imgs, Kernels.dHash64(col("img")), "doc_id",
          maxHamming = 6, bands = 8, keyBands = 2)
        .select(col("id_a").cast("bigint").as("id_a"),
          col("id_b").cast("bigint").as("id_b"),
          col("hamming").cast("bigint").as("hamming"))
    },
    Some(OracleSqlGen.imagePhash(maxHamming = 6)))

  /** Ingestion-time perceptual near-dup screen under the oracle
    * (round 15, VERDICT r14 #7): history images (doc_id%4==0, the
    * same in-plan PGM family as q_image_phash) are indexed ONCE via
    * [[Dedup.sketchIndex]] and persisted `partitionBy("band")`; the
    * batch (the other 3/4) is screened through
    * [[Dedup.incrementalSketch]], which probes only maxHamming+1 of
    * the 8 band partitions — partial-probe pigeonhole keeps recall
    * EXACT while the scan prunes to 7/8 of the index (plan contract
    * pinned in PlanSpec). The oracle replays pixels, hashes, and the
    * brute-force cross-split Hamming join.
    */
  private val qIncrementalPhash = Q("q_incremental_phash",
    (s, dir) => {
      val id = col("doc_id")
      // r17 opt: same fan-out as q_image_phash — index build and batch
      // screen both decode in parallel (r18: same 8 KB/task cost gate)
      val imgs = Ops.fanOutForCompute(
          t(s, dir, "documents").select(id.cast("bigint").as("doc_id")),
          8 * 1024L, col("doc_id"))
        .select(col("doc_id"), phashDocImage(col("doc_id")).as("img"))
      val hist = imgs.filter(pmod(col("doc_id"), lit(4)) === 0)
      // r16: codec fixture rows on the batch side — crawled-format
      // blobs (VP8L webp) whose grid twins a history doc, so the
      // incremental screen must pair them at Hamming 0
      val incFx: Seq[(Long, Array[Byte])] =
        OracleSqlGen.phashIncFixtures.map { case (fid, base, fmt) =>
          val px = Array.tabulate(72) { p =>
            val v = (base * 131 + p * 197) % 65521
            (((v * v) % 65521 + p * 13) % 256).toInt
          }
          val blob = fmt match {
            case "webp" => graft.functions.WebpKernels.encodeLossless(9, 8,
              px.map(g => 0xff000000 | (g << 16) | (g << 8) | g))
          }
          (fid, blob)
        }
      val batch = imgs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
        .unionAll(s.createDataFrame(incFx).toDF("doc_id", "img"))
      val idxDir = scratch("phash_inc")
      Dedup.sketchIndex(hist, Kernels.dHash64(col("img")), "doc_id")
        .write.mode("overwrite").partitionBy("band").parquet(idxDir)
      Dedup.incrementalSketch(batch, idxDir, Kernels.dHash64(col("img")), "doc_id",
          maxHamming = 6, bands = 8)
        .select(col("new_id").cast("bigint").as("new_id"),
          col("hist_id").cast("bigint").as("hist_id"),
          col("hamming").cast("bigint").as("hamming"))
    },
    Some(OracleSqlGen.imagePhashIncremental(maxHamming = 6)))

  /** Per-doc 130-sample 8-bit mono WAV, built IN-PLAN like
    * [[phashDocImage]]: quadratic-residue samples (decorrelated
    * envelopes doc to doc), every 10th doc a near-twin of its
    * predecessor (two perturbed samples → ≤3 fingerprint bits), every
    * 13th doc junk bytes (NULL fingerprint, no pairs). The 44-byte
    * header is a plan-build constant; only samples vary. */
  private def audioDocWav(id: Column): Column = {
    val base = when(pmod(id, lit(10)) === 1, id - 1).otherwise(id)
    val isDup = pmod(id, lit(10)) === 1
    val samples = array_join(transform(sequence(lit(0), lit(129)), p => {
      val v = pmod(base * 131 + p * 197, lit(65521))
      val g0 = pmod(pmod(v * v, lit(65521)) + p * 13, lit(256))
      val pert = when(isDup && p === 0, 60L)
        .when(isDup && p === 80, 75L).otherwise(0L)
      lpad(hex(pmod(g0 + pert, lit(256))), 2, "0")
    }), "")
    val hdrHex = {
      val bos = new java.io.ByteArrayOutputStream()
      def s4(x: String): Unit = bos.write(x.getBytes("US-ASCII"))
      def le32(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >>> 8) & 0xff)
        bos.write((v >>> 16) & 0xff); bos.write((v >>> 24) & 0xff) }
      def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >>> 8) & 0xff) }
      val n = 130
      s4("RIFF"); le32(36 + n); s4("WAVE"); s4("fmt "); le32(16)
      le16(1); le16(1); le32(8000); le32(8000); le16(1); le16(8)
      s4("data"); le32(n)
      hexOf(bos.toByteArray)
    }
    when(pmod(id, lit(13)) === 0, encode(lit("notaudio!"), "UTF-8"))
      .otherwise(unhex(concat(lit(hdrHex), samples)))
  }

  /** Audio perceptual near-dup under the oracle (round 16): the
    * [[qImagePhash]] recipe on decoded PCM —
    * [[Dedup.sketchPairs]] fingerprints each in-plan WAV with
    * the temporal energy-envelope dHash (65 integer frame energies
    * over the 16-bit-normalized samples, gradient bits), then the
    * banded Hamming machinery with Manku keyBands=2 subsets. The
    * oracle replays samples → energies → 64 bit terms → brute-force
    * pair join, so the banded path's pigeonhole EXACTNESS is what is
    * being checked, not just plumbing. Junk docs hash NULL and appear
    * in no pair. */
  private val qAudioNearDup = Q("q_audio_neardup",
    (s, dir) => {
      val id = col("doc_id")
      // r17 opt: fan the id projection out before the WAV is built —
      // PCM decode parallelizes, the exchange carries only doc_id.
      // r18 cost gate: 8 KB/task (one PCM decode per row; the 8-core
      // run beat the 32-way fan-out here too — PERF r17 ratio 0.63).
      val clips = Ops.fanOutForCompute(
          t(s, dir, "documents").select(id.cast("bigint").as("doc_id")),
          8 * 1024L, col("doc_id"))
        .select(col("doc_id"), audioDocWav(col("doc_id")).as("clip"))
      Dedup.sketchPairs(clips, Kernels.audioDhash64(col("clip")), "doc_id",
          maxHamming = 6, bands = 8, keyBands = 2)
        .select(col("id_a").cast("bigint").as("id_a"),
          col("id_b").cast("bigint").as("id_b"),
          col("hamming").cast("bigint").as("hamming"))
    },
    Some(OracleSqlGen.audioNearDup(maxHamming = 6)))

  /** Incremental audio screen under the oracle (round 16): history
    * clips (doc_id%4=0) build a persisted band-partitioned
    * [[Dedup.sketchIndex]]; the batch probes it through
    * [[Dedup.incrementalSketch]]'s partial-probe pigeonhole (bands
    * 0..maxHamming only — the partition-pruned scan). The oracle is
    * the brute-force cross-split join. */
  private val qIncrementalAudio = Q("q_incremental_audio",
    (s, dir) => {
      val id = col("doc_id")
      // r17 fanned both the index build and the batch screen out to all
      // 32 cores and the driver measured a 1.16× regression (VERDICT
      // r17 #2) — two exchanges plus 64 near-empty tasks over ~500
      // rows. r18 cost gate: 8 KB/task sizes each side to its input.
      val clips = Ops.fanOutForCompute(
          t(s, dir, "documents").select(id.cast("bigint").as("doc_id")),
          8 * 1024L, col("doc_id"))
        .select(col("doc_id"), audioDocWav(col("doc_id")).as("clip"))
      val hist = clips.filter(pmod(col("doc_id"), lit(4)) === 0)
      val batch = clips.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val idxDir = scratch("audio_inc")
      Dedup.sketchIndex(hist, Kernels.audioDhash64(col("clip")), "doc_id")
        .write.mode("overwrite").partitionBy("band").parquet(idxDir)
      Dedup.incrementalSketch(batch, idxDir, Kernels.audioDhash64(col("clip")), "doc_id",
          maxHamming = 6, bands = 8)
        .select(col("new_id").cast("bigint").as("new_id"),
          col("hist_id").cast("bigint").as("hist_id"),
          col("hamming").cast("bigint").as("hamming"))
    },
    Some(OracleSqlGen.audioIncremental(maxHamming = 6)))

  /** Politeness scheduling under the oracle (r14):
    * [[graft.operators.Robots.fetchSchedule]] — Crawl-delay directives
    * parsed with RFC 9309 group attribution (named agent beats `*`,
    * first directive in file order wins, malformed values skipped),
    * broadcast to the frontier, and every URL assigned its host's
    * fetch slot (deterministic rank × delay) with a VISIBLE
    * `within_budget` flag at maxPerHost=10. Four robots shapes rotate
    * by host: named-agent 2.5 s (the `*` 9 s must lose), `*` 0.5 s
    * with a second directive that must NOT win, no delay (default),
    * and a malformed value (default). The one exchange is the window's
    * host partitioning — the partitioning a polite fetcher needs
    * anyway. The oracle replays group selection, ranks, offsets, and
    * the budget flag.
    */
  private val qFrontierSchedule = Q("q_frontier_schedule",
    (s, dir) => {
      val id = col("doc_id")
      val k = pmod(id, lit(20))
      val host = concat(lit("h"), k.cast("string"), lit(".example.com"))
      val urls = t(s, dir, "documents").select(
        concat(lit("https://"), host, lit("/p/"), id.cast("string")).as("url"),
        host.as("host"))
      val robots = t(s, dir, "documents")
        .select(k.as("__k")).distinct()
        .select(concat(lit("h"), col("__k").cast("string"),
            lit(".example.com")).as("rhost"),
          when(pmod(col("__k"), lit(4)) === 0,
            lit("User-agent: graftbot\nCrawl-delay: 2.5\n" +
              "User-agent: *\nCrawl-delay: 9\n"))
            .when(pmod(col("__k"), lit(4)) === 1,
              lit("User-agent: *\nCrawl-delay: 0.5\nDisallow: /private\n" +
                "User-agent: *\nCrawl-delay: 7\n"))
            .when(pmod(col("__k"), lit(4)) === 2,
              lit("User-agent: *\nDisallow: /x\n"))
            .otherwise(lit("User-agent: *\nCrawl-delay: soon\n"))
            .as("rtext"))
      Robots.fetchSchedule(urls, "url", "host", robots, "rhost", "rtext",
          agent = "graftbot", defaultDelaySec = 1.0, maxPerHost = 10L)
        .select(col("url"), col("host"), col("crawl_delay"),
          col("fetch_rank"), col("fetch_offset_sec"), col("within_budget"))
    },
    Some("""WITH u AS (
           |  SELECT 'https://h' || (doc_id % 20) || '.example.com/p/' || doc_id AS url,
           |         'h' || (doc_id % 20) || '.example.com' AS host,
           |         doc_id % 20 AS k
           |  FROM documents),
           |r AS (
           |  SELECT url, host,
           |         CASE WHEN k % 4 = 0 THEN 2.5
           |              WHEN k % 4 = 1 THEN 0.5
           |              ELSE 1.0 END AS crawl_delay,
           |         CAST(row_number() OVER (PARTITION BY host ORDER BY url) - 1
           |              AS BIGINT) AS fetch_rank
           |  FROM u)
           |SELECT url, host, crawl_delay, fetch_rank,
           |       fetch_rank * crawl_delay AS fetch_offset_sec,
           |       fetch_rank < 10 AS within_budget
           |FROM r""".stripMargin))

  /** PDF ingest under the oracle (r14): a complete single-page PDF —
    * header, catalog/pages/page objects, content stream, CLASSIC XREF
    * TABLE with real 10-digit byte offsets computed in-plan from the
    * variable-length pieces, trailer, startxref — is constructed per
    * doc and pulled back through [[Kernels.pdfMeta]] +
    * [[Kernels.pdfText]]. Three body shapes rotate by doc_id%3:
    * per-doc literal strings with Td/T* line breaks, a CONSTANT
    * FlateDecode content stream (deflated at plan build — the decoded
    * text is what the oracle checks), and per-doc TJ kerning arrays.
    * Every 6th doc truncates the blob and must come back all-NULL.
    * The oracle recomputes version, page count, and the exact
    * extracted text arithmetically.
    */
  private val qPdfExtract = Q("q_pdf_extract",
    (s, dir) => {
      val id = col("doc_id")
      val idS = id.cast("string")
      val word = element_at(
        typedlit(Seq("alpha", "beta", "gamma", "delta", "omega")),
        (pmod(id, lit(5)) + 1).cast("int"))
      val m5 = pmod(id, lit(5))
      val content = when(m5 === 2,
          concat(lit("BT [(doc )-10("), idS, lit(")] TJ ET")))
        .otherwise(concat(lit("BT /F1 12 Tf 72 720 Td (doc "), idS,
          lit(" reports "), word, lit(") Tj T* (second line "), idS,
          lit(") Tj ET")))
      val h = lit("%PDF-1.4\n")
      val o1 = lit("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
      val o2 = lit("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
      val o3 = lit("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
      val o4 = concat(lit("4 0 obj << /Length "),
        length(content).cast("string"), lit(" >> stream\n"), content,
        lit("\nendstream endobj\n"))
      // all pieces are ASCII, so char length == byte length and the
      // xref offsets are plain length arithmetic
      val off1 = length(h)
      val off2 = off1 + length(o1)
      val off3 = off2 + length(o2)
      val off4 = off3 + length(o3)
      val xrefOff = off4 + length(o4)
      def entry(off: Column): Column =
        concat(lpad(off.cast("string"), 10, "0"), lit(" 00000 n \n"))
      val pdfStr = concat(h, o1, o2, o3, o4,
        lit("xref\n0 5\n0000000000 65535 f \n"),
        entry(off1), entry(off2), entry(off3), entry(off4),
        lit("trailer << /Size 5 /Root 1 0 R >>\nstartxref\n"),
        xrefOff.cast("string"), lit("\n%%EOF"))
      // filtered-stream branches: constant documents encoded at plan
      // build (the oracle checks the DECODED text, so filter byte
      // choices never matter). Round 15 adds the LZWDecode and the
      // ASCII85+Flate chain pages older crawled PDFs carry.
      def fixturePdfHex(filterSpec: String, payload: Array[Byte]): String = {
        val out = new java.io.ByteArrayOutputStream()
        def emit(x: Array[Byte]): Unit = out.write(x)
        def es(x: String): Unit = emit(x.getBytes("ISO-8859-1"))
        val offs = scala.collection.mutable.ArrayBuffer[Long]()
        es("%PDF-1.4\n")
        offs += out.size(); es("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
        offs += out.size(); es("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
        offs += out.size(); es("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
        offs += out.size()
        es(s"4 0 obj << /Filter $filterSpec /Length ${payload.length} >> stream\n")
        emit(payload); es("\nendstream endobj\n")
        val xo = out.size()
        es("xref\n0 5\n0000000000 65535 f \n")
        offs.foreach(o => es(f"$o%010d 00000 n \n"))
        es(s"trailer << /Size 5 /Root 1 0 R >>\nstartxref\n$xo\n%%EOF")
        hexOf(out.toByteArray)
      }
      def zb(x: String): Array[Byte] = {
        val d = new java.util.zip.Deflater()
        d.setInput(x.getBytes("ISO-8859-1")); d.finish()
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
        d.end(); bos.toByteArray
      }
      val flatePdfHex = fixturePdfHex("/FlateDecode",
        zb("BT (flate fixture page) Tj ET"))
      val lzwPdfHex = fixturePdfHex("/LZWDecode",
        graft.functions.PdfStreamEncoders.lzw(
          "BT (lzw fixture page) Tj ET".getBytes("ISO-8859-1")))
      val a85PdfHex = fixturePdfHex("[/ASCII85Decode /FlateDecode]",
        graft.functions.PdfStreamEncoders.ascii85(
          zb("BT (a85 flate chain page) Tj ET")))
      // round 16: a Type0 composite-font page whose Tj operand is
      // 2-byte GLYPH CODES — readable only through the font's
      // /ToUnicode CMap (bfchar + incremental and array bfranges; the
      // trailing /F1 string pins the per-font Tf switch back to the
      // Latin-1 passthrough). Most post-2010 PDFs are this shape.
      val type0PdfHex = {
        val out = new java.io.ByteArrayOutputStream()
        def es(x: String): Unit = out.write(x.getBytes("ISO-8859-1"))
        val offs = scala.collection.mutable.ArrayBuffer[Long]()
        val cmap = "begincmap\n1 begincodespacerange\n<0000> <FFFF>\n" +
          "endcodespacerange\n2 beginbfchar\n<0001> <0055>\n<0002> <006E>\n" +
          "endbfchar\n2 beginbfrange\n<0010> <0013> <0069>\n" +
          "<0020> <0021> [<00E9> <2713>]\nendbfrange\nendcmap"
        val content = "BT /F9 12 Tf " +
          "<00010002001000110012001300200021> Tj T* " +
          "/F1 12 Tf (latin tail) Tj ET"
        es("%PDF-1.7\n")
        offs += out.size(); es("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
        offs += out.size(); es("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
        offs += out.size(); es("3 0 obj << /Type /Page /Parent 2 0 R " +
          "/Contents 4 0 R /Resources << /Font << /F9 5 0 R >> >> >> endobj\n")
        offs += out.size()
        es(s"4 0 obj << /Length ${content.length} >> stream\n" + content +
          "\nendstream endobj\n")
        offs += out.size()
        es("5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /T " +
          "/ToUnicode 6 0 R >> endobj\n")
        offs += out.size()
        es(s"6 0 obj << /Length ${cmap.length} >> stream\n" + cmap +
          "\nendstream endobj\n")
        val xo = out.size()
        es("xref\n0 7\n0000000000 65535 f \n")
        offs.foreach(o => es(f"$o%010d 00000 n \n"))
        es(s"trailer << /Size 7 /Root 1 0 R >>\nstartxref\n$xo\n%%EOF")
        hexOf(out.toByteArray)
      }
      locally { // fixture honesty: the CMap must translate the codes
        val got = graft.functions.PdfKernels.text(
          type0PdfHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
        require(got != null &&
          got.toString == "Unijklé✓\nlatin tail",
          s"type0 fixture extraction drifted: $got")
      }
      // round 17: ENCRYPTED lanes (standard security handler, empty
      // user password — the owner-password-only majority) — RC4-128,
      // AES-128+Flate, and a real-user-password document the decoder
      // must refuse while meta still reports encrypted=true
      import graft.functions.PdfKernels
      val encRc4Hex = hexOf(PdfKernels.buildEncryptedFixture(
        "BT (rc4 secure page) Tj ET", 2, 3, 16, aes = false))
      val encAesHex = hexOf(PdfKernels.buildEncryptedFixture(
        "BT (aes secure page) Tj ET", 4, 4, 16, aes = true, flate = true))
      val encLockedHex = hexOf(PdfKernels.buildEncryptedFixture(
        "BT (locked away) Tj ET", 2, 3, 16, aes = false, flipU = true))
      locally { // fixture honesty: decrypt works, wrong password refuses
        def un(h: String) = h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
        require(Option(PdfKernels.text(un(encRc4Hex)))
          .exists(_.toString == "rc4 secure page"), "rc4 fixture drifted")
        require(Option(PdfKernels.text(un(encAesHex)))
          .exists(_.toString == "aes secure page"), "aes fixture drifted")
        require(PdfKernels.text(un(encLockedHex)) == null,
          "locked fixture unexpectedly decrypted")
      }
      val e11 = pmod(id, lit(11))
      val blob = when(e11 === 5, unhex(lit(encRc4Hex)))
        .when(e11 === 7, unhex(lit(encAesHex)))
        .when(e11 === 9, unhex(lit(encLockedHex)))
        .when(pmod(id, lit(7)) === 3, unhex(lit(type0PdfHex)))
        .when(m5 === 1, unhex(lit(flatePdfHex)))
        .when(m5 === 3, unhex(lit(lzwPdfHex)))
        .when(m5 === 4, unhex(lit(a85PdfHex)))
        .otherwise(encode(pdfStr, "UTF-8"))
      val blobTr = when(pmod(id, lit(6)) === 0, substring(blob, 1, 50))
        .otherwise(blob)
      val m = Kernels.pdfMeta(blobTr)
      t(s, dir, "documents").select(id.cast("bigint").as("doc_id"),
        m.getField("version").as("version"),
        m.getField("n_pages").cast("bigint").as("n_pages"),
        m.getField("encrypted").as("encrypted"),
        Kernels.pdfText(blobTr).as("text"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, doc_id % 5 AS m5, doc_id % 6 = 0 AS tr,
           |         doc_id % 7 = 3 AS t0, doc_id % 11 AS e11,
           |         ['alpha','beta','gamma','delta','omega']
           |           [CAST(doc_id % 5 AS INT) + 1] AS word
           |  FROM documents)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CASE WHEN tr THEN NULL WHEN e11 IN (5, 7, 9) THEN '1.6'
           |       WHEN t0 THEN '1.7' ELSE '1.4' END AS version,
           |  CAST(CASE WHEN tr THEN NULL ELSE 1 END AS BIGINT) AS n_pages,
           |  CASE WHEN tr THEN NULL ELSE e11 IN (5, 7, 9) END AS encrypted,
           |  CASE WHEN tr THEN NULL
           |       WHEN e11 = 5 THEN 'rc4 secure page'
           |       WHEN e11 = 7 THEN 'aes secure page'
           |       WHEN e11 = 9 THEN NULL
           |       WHEN t0 THEN 'Unijklé✓' || chr(10) || 'latin tail'
           |       WHEN m5 = 1 THEN 'flate fixture page'
           |       WHEN m5 = 3 THEN 'lzw fixture page'
           |       WHEN m5 = 4 THEN 'a85 flate chain page'
           |       WHEN m5 = 2 THEN 'doc ' || doc_id
           |       ELSE chr(10) || 'doc ' || doc_id || ' reports ' || word ||
           |            chr(10) || 'second line ' || doc_id
           |       END AS text
           |FROM c""".stripMargin))

  /** PDF embedded-image extraction under the oracle (round 17,
    * VERDICT r16 #9) — the container tier feeding the image near-dup
    * tier: image XObjects slice out of the object walk as verbatim
    * JPEG payloads / P6/P5 rasters and run through the SAME decode
    * (raster features) and dhash machinery as crawled images. Four
    * lanes: an uncompressed DeviceRGB image whose first pixel is the
    * doc_id SPLICED in-plan (means replayed arithmetically), a
    * two-image document (Flate gray raster + DCT jpeg — the jpeg
    * lane's dhash is a plan-build constant pinned in the oracle), an
    * Indexed image surfaced as `unsupported`, and a truncated
    * document (one all-NULL row via explode_outer). */
  // fixture constants shared by q_pdf_images' plan and its oracle
  private lazy val pdfImagesGrayPx: Array[Int] =
    Array.tabulate(64)(p => (p * 31) % 256)
  private lazy val pdfImagesJpeg: Array[Byte] =
    graft.functions.ImageEncoders.jpegGrayBlocks(
      Array.tabulate(8, 8)((r, c) => (r * 8 + c) * 3 % 256))
  private lazy val pdfImagesGrayMean: Double = pdfImagesGrayPx.sum / 64.0
  private lazy val pdfImagesJpegDhash: Long = {
    val d = graft.functions.PHashKernels.dhash64(pdfImagesJpeg)
    require(d != null, "jpeg fixture must dhash")
    d.longValue()
  }

  private val qPdfImages = Q("q_pdf_images",
    (s, dir) => {
      import graft.functions.{ImageEncoders, PdfKernels, PHashKernels}
      val id = col("doc_id")
      val m = pmod(id, lit(4))
      def pdfWith(extra: Seq[(String, Array[Byte])]): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        val offsets = scala.collection.mutable.ArrayBuffer[Long](0L)
        def es(x: String): Unit = out.write(x.getBytes("ISO-8859-1"))
        es("%PDF-1.5\n")
        offsets += out.size()
        es("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
        offsets += out.size()
        es("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
        offsets += out.size()
        es("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
        offsets += out.size()
        es("4 0 obj << /Length 14 >> stream\nBT (host) Tj ET\nendstream endobj\n")
        extra.zipWithIndex.foreach { case ((dict, payload), i) =>
          offsets += out.size()
          es(s"${5 + i} 0 obj << $dict /Length ${payload.length} >> stream\n")
          out.write(payload)
          es("\nendstream endobj\n")
        }
        val total = 5 + extra.size
        val xo = out.size()
        es(s"xref\n0 $total\n0000000000 65535 f \n")
        (1 until total).foreach(i => es(f"${offsets(i)}%010d 00000 n \n"))
        es(s"trailer << /Size $total /Root 1 0 R >>\nstartxref\n$xo\n%%EOF")
        out.toByteArray
      }
      // lane 0: raw RGB 4x4, pixel 0 = marker spliced per doc
      val marker = Array[Byte](0xFE.toByte, 0xED.toByte, 0xFA.toByte)
      val rgbRest = Array.tabulate[Byte](15 * 3)(i =>
        (i % 3 match { case 0 => 8; case 1 => 16; case _ => 32 }).toByte)
      val pdfRgb = pdfWith(Seq(
        ("/Subtype /Image /Width 4 /Height 4 /ColorSpace /DeviceRGB " +
          "/BitsPerComponent 8", marker ++ rgbRest)))
      val at = pdfRgb.indexOfSlice(marker)
      require(at >= 0 && pdfRgb.indexOfSlice(marker, at + 1) < 0,
        "pixel marker not unique")
      val d0 = concat(unhex(lit(hexOf(pdfRgb.take(at)))),
        unhex(concat(h2(pmod(id, lit(256)).cast("int")),
          h2(pmod(id * 7, lit(256)).cast("int")),
          h2(pmod(id * 13, lit(256)).cast("int")))),
        unhex(lit(hexOf(pdfRgb.drop(at + 3)))))
      // lane 1: Flate gray 8x8 + DCT jpeg — both constant fixtures
      val grayZ = {
        val d = new java.util.zip.Deflater()
        d.setInput(pdfImagesGrayPx.map(_.toByte)); d.finish()
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](512)
        while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
        d.end(); bos.toByteArray
      }
      val jpeg = pdfImagesJpeg
      val pdfTwo = pdfWith(Seq(
        ("/Subtype /Image /Width 8 /Height 8 /ColorSpace /DeviceGray " +
          "/BitsPerComponent 8 /Filter /FlateDecode", grayZ),
        ("/Subtype /Image /Width 8 /Height 8 /ColorSpace /DeviceGray " +
          "/BitsPerComponent 8 /Filter /DCTDecode", jpeg)))
      val pdfIdx = pdfWith(Seq(
        ("/Subtype /Image /Width 2 /Height 2 /BitsPerComponent 8 " +
          "/ColorSpace [/Indexed /DeviceRGB 1 <000000FFFFFF>]",
          Array[Byte](0, 1, 1, 0))))
      locally { // fixture honesty: the extraction pipeline holds
        val imgs = PdfKernels.images(pdfTwo)
        require(imgs != null && imgs.numElements() == 2,
          "two-image fixture drifted")
      }
      val blob = when(m === 0, d0)
        .when(m === 1, unhex(lit(hexOf(pdfTwo))))
        .when(m === 2, unhex(lit(hexOf(pdfIdx))))
        .otherwise(unhex(lit(hexOf(pdfRgb.take(120)))))
      val decode = org.apache.spark.sql.Kernels.decodeFeatures(
        coalesce(col("c.data"), lit(Array.emptyByteArray)), 5, Multimodal.raster)
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"), blob.as("__b"))
        .select(col("doc_id"),
          explode_outer(Kernels.pdfImages(col("__b"))).as("c"))
        .select(col("doc_id"),
          col("c.obj").cast("bigint").as("obj"),
          col("c.format").as("format"),
          col("c.width").cast("bigint").as("width"),
          col("c.height").cast("bigint").as("height"),
          when(col("c.format").isin("ppm", "pgm"), decode).as("__f"),
          when(col("c.format") === "jpeg",
            org.apache.spark.sql.Kernels.dHash64(col("c.data"))).as("dhash"))
        .select(col("doc_id"), col("obj"), col("format"), col("width"),
          col("height"),
          round(get(col("__f"), lit(2)).cast("double"), 6).as("mean_r"),
          round(get(col("__f"), lit(3)).cast("double"), 6).as("mean_g"),
          round(get(col("__f"), lit(4)).cast("double"), 6).as("mean_b"),
          col("dhash"))
    },
    Some(s"""WITH c AS (
            |  SELECT doc_id, CAST(doc_id % 4 AS INT) AS m FROM documents),
            |rows_ AS (
            |  SELECT doc_id, 5 AS obj, 'ppm' AS fmt, 4 AS w, 4 AS h,
            |         round((doc_id % 256 + 15 * 8) / 16.0, 6) AS mr,
            |         round(((doc_id * 7) % 256 + 15 * 16) / 16.0, 6) AS mg,
            |         round(((doc_id * 13) % 256 + 15 * 32) / 16.0, 6) AS mb,
            |         CAST(NULL AS BIGINT) AS dh
            |    FROM c WHERE m = 0
            |  UNION ALL SELECT doc_id, 5, 'pgm', 8, 8,
            |         ${f"$pdfImagesGrayMean%.6f"}, ${f"$pdfImagesGrayMean%.6f"},
            |         ${f"$pdfImagesGrayMean%.6f"}, NULL FROM c WHERE m = 1
            |  UNION ALL SELECT doc_id, 6, 'jpeg', 8, 8,
            |         NULL, NULL, NULL, $pdfImagesJpegDhash FROM c WHERE m = 1
            |  UNION ALL SELECT doc_id, 5, 'unsupported', 2, 2,
            |         NULL, NULL, NULL, NULL FROM c WHERE m = 2
            |  UNION ALL SELECT doc_id, NULL, NULL, NULL, NULL,
            |         NULL, NULL, NULL, NULL FROM c WHERE m = 3)
            |SELECT CAST(doc_id AS BIGINT) AS doc_id,
            |       CAST(obj AS BIGINT) AS obj, fmt AS format,
            |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
            |       CAST(mr AS DOUBLE) AS mean_r, CAST(mg AS DOUBLE) AS mean_g,
            |       CAST(mb AS DOUBLE) AS mean_b, CAST(dh AS BIGINT) AS dhash
            |FROM rows_""".stripMargin))

  /** Sitemap discovery under the oracle (r14): the frontier loop's
    * missing step — `robots.txt` → [[Kernels.robotsSitemaps]] (the sitemap
    * URL) → [[Kernels.sitemapEntries]] (urlset vs sitemapindex split) →
    * [[Kernels.urlResolve]] → [[Kernels.urlParts]] canonicalization. Four
    * sitemap shapes rotate by doc_id%4: a two-entry urlset with an
    * `&amp;` entity and a RELATIVE loc (resolved against the sitemap's
    * own URL), a GZIPPED sitemapindex (sitemap.xml.gz — decoded
    * in-plan via the fail-closed `gunzip` kernel), a CDATA loc behind a
    * self-closing `xhtml:link` and a skipped `changefreq`, and a
    * mixed-case host that canonicalization must lowercase. Every 9th
    * doc truncates the XML mid-tag and must come back as ONE all-NULL
    * row (posexplode_outer + the fail-closed whole-document contract).
    * One projection + explode; the oracle recomputes every entry
    * arithmetically.
    */
  private val qSitemapFrontier = Q("q_sitemap_frontier",
    (s, dir) => {
      val id = col("doc_id")
      val k = pmod(id, lit(20)).cast("string")
      val idS = id.cast("string")
      val host = concat(lit("https://h"), k, lit(".example.com"))
      val robots = concat(
        lit("User-agent: *\nDisallow: /private/\nSitemap: "), host,
        lit("/sitemap_"), idS, lit(".xml\n"))
      val m4 = pmod(id, lit(4))
      val tr = pmod(id, lit(9)) === 0
      val xmlFull = when(m4 === 0, concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
            "<url><loc>"), host, lit("/p/"), idS,
          lit("?a=1&amp;b=2</loc><lastmod>2026-07-0"),
          (pmod(id, lit(9)) + 1).cast("string"),
          lit("</lastmod></url><url><loc>/rel/"), idS,
          lit("</loc></url></urlset>")))
        .when(m4 === 2, concat(
          lit("<urlset><!-- generated --><url>" +
            "<xhtml:link rel=\"alternate\" href=\"/x\"/><loc><![CDATA["),
          host, lit("/cd/"), idS,
          lit("]]></loc><changefreq>daily</changefreq></url></urlset>")))
        .otherwise(concat(
          lit("<urlset><url><loc>https://H"), k, lit(".EXAMPLE.com/up/"), idS,
          lit("</loc></url></urlset>")))
      // the sitemapindex branch arrives GZIPPED (sitemap.xml.gz is the
      // protocol's own size answer): fixed content gzipped at plan
      // build, decoded in-plan through gunzip -> decode_text — the
      // fail-closed inflate under the oracle. Truncation cuts the
      // BYTES mid-member, so gunzip itself must refuse.
      val gzSmXml = "<sitemapindex " +
        "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        "<sitemap><loc>https://static.example.com/sm/a.xml</loc>" +
        "<lastmod>2026-08-01</lastmod></sitemap></sitemapindex>"
      val gzSmHex = {
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(gzSmXml.getBytes("UTF-8")); g.close()
        hexOf(bos.toByteArray)
      }
      val gzBytes = unhex(lit(gzSmHex))
      // round 16: the compressed-sitemap lane splits by id%8 — 1 ->
      // sitemap.xml.gz (gunzip), 5 -> sitemap.xml.br (RFC 7932,
      // reference-encoder bytes pinned as hex, decoded through
      // BrotliKernels) — both protocol-blessed size answers, both
      // fail-closed under truncation
      val brSmXml = "<sitemapindex " +
        "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        "<sitemap><loc>https://static.example.com/sm/b.xml</loc>" +
        "<lastmod>2026-08-02</lastmod></sitemap></sitemapindex>"
      val brSmHex = "1bae0000c4f296fa77ee27b19d4b1d22139e6e2ee4ae0e41b108" +
        "03d3c34b78787aacd7538f5b2048957b2ba2ae89dfefe2b3db8996892024036d" +
        "6308038e039e9b29cb473c6fe949a7e02c38a310edb8989bd344f0cd33e2dfb7" +
        "b5ac93bc8a55083b89daa6799321"
      locally { // fixture honesty: the pinned hex must decode to brSmXml
        val got = graft.functions.BrotliKernels.decompress(
          brSmHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
        require(got != null && new String(got, "UTF-8") == brSmXml,
          "pinned brotli sitemap fixture does not decode to its xml")
      }
      val brBytes = unhex(lit(brSmHex))
      val m8 = pmod(id, lit(8))
      val xml = when(m8 === 1,
          Kernels.decodeText(Kernels.gunzip(
            when(tr, substring(gzBytes, 1, 20)).otherwise(gzBytes)))
            .getField("text"))
        .when(m8 === 5,
          Kernels.decodeText(Kernels.brotliDecompress(
            when(tr, substring(brBytes, 1, 20)).otherwise(brBytes)))
            .getField("text"))
        .otherwise(when(tr, substring(xmlFull, 1, 30)).otherwise(xmlFull))
      t(s, dir, "documents")
        .select(id.cast("bigint").as("doc_id"),
          element_at(Kernels.robotsSitemaps(robots), 1).as("__sm"),
          posexplode_outer(Kernels.sitemapEntries(xml)).as(Seq("pos", "e")))
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"),
          col("e").getField("kind").as("kind"),
          Kernels.urlParts(Kernels.urlResolve(col("__sm"), col("e").getField("loc")))
            .getField("normalized").as("url"),
          col("e").getField("lastmod").as("lastmod"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, CAST(doc_id % 20 AS VARCHAR) AS k,
           |         doc_id % 4 AS m4, doc_id % 9 = 0 AS tr
           |  FROM documents),
           |rows_ AS (
           |  SELECT doc_id, 0 AS pos, 'url' AS kind,
           |         'https://h'||k||'.example.com/p/'||doc_id||'?a=1&b=2' AS url,
           |         '2026-07-0'||(doc_id % 9 + 1) AS lastmod
           |  FROM c WHERE NOT tr AND m4 = 0
           |  UNION ALL
           |  SELECT doc_id, 1, 'url',
           |         'https://h'||k||'.example.com/rel/'||doc_id, NULL
           |  FROM c WHERE NOT tr AND m4 = 0
           |  UNION ALL
           |  SELECT doc_id, 0, 'sitemap',
           |         'https://static.example.com/sm/a.xml', '2026-08-01'
           |  FROM c WHERE NOT tr AND doc_id % 8 = 1
           |  UNION ALL
           |  SELECT doc_id, 0, 'sitemap',
           |         'https://static.example.com/sm/b.xml', '2026-08-02'
           |  FROM c WHERE NOT tr AND doc_id % 8 = 5
           |  UNION ALL
           |  SELECT doc_id, 0, 'url',
           |         'https://h'||k||'.example.com/cd/'||doc_id, NULL
           |  FROM c WHERE NOT tr AND m4 = 2
           |  UNION ALL
           |  SELECT doc_id, 0, 'url',
           |         'https://h'||k||'.example.com/up/'||doc_id, NULL
           |  FROM c WHERE NOT tr AND m4 = 3
           |  UNION ALL
           |  SELECT doc_id, NULL, NULL, NULL, NULL FROM c WHERE tr)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(pos AS BIGINT) AS pos,
           |       kind, url, lastmod
           |FROM rows_""".stripMargin))

  val all: Seq[Q] = Seq(
    qHtmlExtract, qHtmlMeta, qQualityRules, qUrlNormalize, qContainerMeta, qRobotsFilter,
    qCrawlClean, qTextDecode, qAnnSq8, qLangId, qNegativeSample, qDriftPsi,
    qLinkExtract, qFrontierLinks, qWarcIngest, qSitemapFrontier, qFeedEntries,
    qLangIdModel, qPdfExtract, qPdfImages, qFrontierSchedule, qImagePhash,
    qIncrementalPhash, qAudioNearDup, qIncrementalAudio, qVideoNearDup, qHtmlTables,
    qZipExtract, qDocxText, qPptxText, qXlsxCells, qXlsCells, qDocumentText, qTarExtract, qJsonProfile, qUrlIdn, qBinaryRoute,
    qZstdDict,
    qSelect, qFilter, qFilterRouter,
    qJoinInner, qJoinLeft3key, qJoinRight, qJoinMultiway,
    qAgg, qDistinct, qWindowRank, qSort, qUnionDedup,
    qStringFuncs, qSplitConcat, qDateParts, qSeqId,
    qEditDistance, qRegexExtract,
    qFuzzyMatch, qFuzzyThreshold, qEventsHourly, qJsonExtract, qWindowSuite,
    qDedupExact, qDedupMinhash, qDedupSimhash, qNgramJaccard, qDupClusters,
    qDupClustersDist, qDedupPipeline,
    qEmbeddingNearDup, qArrayFuncs, qAnnBrute, qAnnLsh, qAnnIvf, qAnnIvfPq,
    qTextStats, qCorpusStats, qChunkText, qFingerprint, qMultimodal,
    qStarJoin, qAggFused, qTopkPerGroup, qCountDistinct, qSessionizeBatch,
    qRollup, qSemiAnti, qSetOps, qAsofJoin, qPivot,
    qBm25, qDecontaminate, qTopNgrams, qRepetition, qRangeJoin,
    qPackChunks, qSplitAssign,
    qRangeJoinSemi, qLineDedup, qPiiRedact, qCube, qTfidf, qTokenBudget,
    qQualityGate, qImageMeta, qMixtureWeights, qLabelConfusion,
    qDecontaminateEmbed,
    qDupSpans, qDupSpansSalted, qIncrementalDedup, qIncrementalMinhash,
    qHybridRrf, qApproxDistinct, qHllPersisted, qApproxQuantiles,
    qDecontaminateBloom, qLmScore, qEventAttribution, qUpsert, qScd2,
    qZorder, qHilbert, qBpeTrain, qBpeTrainCapped, qBpeEncode, qImportance,
    qSampleGroup, qSampleBernoulli, qSampleWeighted, qSampleWeightedGroup, qScd2Multi, qSnapshotDiff, qTrainingOrder, qBlocklist,
    qApproxTopk, qAudioFeatures, qMp3Meta, qAudioG711, qAudioAdpcm, qAudioContainers,
    qAudioExtensible, qIncrementalEmbedding, qSplitClusterSafe,
    qIngestRouted, qBinaryIngest, qFontMeta, qExifMeta, qDocText, qPptText, qRtfText, qEmlText, qMboxMessages, qBloomLookup, qLineDedupWithin, qProfile, qJpegFeatures,
    qRepeatMixture, qScd2Lookup, qVideoStats, qVideoFrames,
    qCdcChunks, qCdcDedup, qNormalizeText, qLzwRoundtrip, qLz4Roundtrip, qIncrementalCdc, qOrcRoundtrip,
    qPageRank, qPngFeatures, qGifFeatures, qGifFrames, qTiffFeatures,
    qIntegrityChecksum,
    qQualityClassifier, qScoreAuc, qScoreCalibration, qScoreGate, qKmeans,
    qSemanticDedup, qIncrementalEmbeddingPq, qAudioFlac, qAudioMeta)
}
