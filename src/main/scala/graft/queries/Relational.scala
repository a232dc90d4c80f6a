package graft.queries

import graft.operators.CacheScope.{checkpoint, persist}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Relational operator inventory (SURVEY.md §2) over the TPC-H-ish
  * testdata, each with a DuckDB oracle.
  *
  * Oracle-parity rules used throughout:
  *   - Sums of computed doubles are cast per-row to DECIMAL(18,4) before
  *     aggregation in BOTH engines — decimal addition is exact and
  *     order-independent, so partial/final aggregation plans hash-match
  *     the single-threaded oracle. The FINAL summed column is then cast
  *     to double on both sides: Spark's sum yields DECIMAL(28,4) while
  *     DuckDB's yields DECIMAL(38,4), and the driver's hasher renders
  *     those decimal types differently even when values are equal.
  *     double(exact-decimal) is one deterministic round-to-nearest in
  *     both engines, so the bits (and the hash) match.
  *   - Raw double columns are passed through untouched (parquet bits are
  *     identical on both sides).
  *   - Every query ends in a deterministic ORDER BY over a unique key.
  *   - Aliases match the oracle SQL exactly (driver compares by column
  *     name).
  */
object Relational {

  private def rd(s: SparkSession, dir: String, t: String): DataFrame =
    graft.sources.Sources.table(s, dir, t)

  /** See [[graft.sources.Sources.events]] — ts arrives normalized to
    * the canonical epoch-nano long whatever the file's physical
    * encoding. All ts arithmetic below uses exact integer division —
    * going through double would lose sub-second precision at 1.7e18 ns.
    */
  private[queries] def events(s: SparkSession, dir: String): DataFrame =
    graft.sources.Sources.events(s, dir)

  private val M = DecimalType(18, 4)

  /** Session-overlap user graph (shared by q44 triangles and q48 k-hop
    * reach): undirected edges (ua < ub) between users whose activity
    * sessions (30-min-gap sessionization) overlap in time. Candidate
    * generation is the hour-cell equi-join — never an interval
    * cross-join — with the greatest-start-owns-the-pair convention so
    * each overlapping pair survives in exactly one cell. Returned
    * persisted: every caller composes a multi-pass graph algorithm on
    * it.
    */
  private def sessionOverlapEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val secs = expr("ts div 1000000000")
    val w = Window.partitionBy($"user_id").orderBy(secs, $"event_id")
    val iv = events(s, dir)
      .withColumn("sec", secs)
      .withColumn("prev_s", lag($"sec", 1).over(w))
      .withColumn("ns",
        when($"prev_s".isNull || ($"sec" - $"prev_s") > 1800, 1).otherwise(0))
      .withColumn("sess", sum($"ns").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sess")
      .agg(min($"sec").as("st"), max($"sec").as("en"))
    val cells = iv.select($"user_id", $"st", $"en",
      explode(sequence(expr("st div 3600"), expr("en div 3600"))).as("cell"))
    persist(cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.user_id") < col("b.user_id") &&
          col("a.st") <= col("b.en") && col("b.st") <= col("a.en") &&
          expr("greatest(a.st, b.st) div 3600") === col("a.cell"))
      .select(col("a.user_id").as("ua"), col("b.user_id").as("ub"))
      .distinct())
  }

  /** One-time bucketed-warehouse fixture for q29: orders + lineitem
    * written `bucketBy(8, key).sortBy(key)`, table names tagged by the
    * sf dir so different scales never collide. Reuse paths, cheapest
    * first:
    *   1. tables already in this JVM's catalog → return immediately;
    *   2. warehouse dirs persisted by an earlier JVM (the in-memory
    *      catalog forgets tables across restarts, the files stay) and
    *      a marker file proves they were built from the SAME source
    *      parquet (path + size + mtime) → re-register the existing
    *      files as external bucketed tables (pure DDL, no data pass);
    *   3. otherwise build from source (the one-time cost).
    * Only the columns the join consumes are stored — at warehouse scale
    * the bucketed copy is a narrow join-optimized projection, not a
    * second copy of the fact table.
    *
    * [[ensureBucketedWarehouse]] is the public warmup hook: build (or
    * re-register) and warm file index + footers, so a caller's q29
    * timed line measures the co-located join, not one-time warehouse
    * setup — the way a real deployment builds warehouse tables once,
    * not per query.
    */
  def ensureBucketedWarehouse(s: SparkSession, dir: String): Unit = {
    val (ot, lt) = bucketedFixture(s, dir)
    s.table(ot).count()
    s.table(lt).count()
  }

  private def bucketedFixture(s: SparkSession, dir: String): (String, String) =
    Relational.synchronized {
      import s.implicits._
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val ot = s"graft_b_orders_$tag"
      val lt = s"graft_b_lineitem_$tag"
      if (s.catalog.tableExists(ot) && s.catalog.tableExists(lt)) return (ot, lt)
      def whDir(t: String) = new java.io.File(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def fingerprint(src: String): String = {
        val f = new java.io.File(dir, s"$src.parquet")
        s"${f.getAbsolutePath}|${f.length()}|${f.lastModified()}"
      }
      def marker(t: java.io.File) = new java.io.File(t, "_graft_source")
      def markerMatches(t: java.io.File, src: String): Boolean =
        t.isDirectory && marker(t).isFile && {
          val bytes = java.nio.file.Files.readAllBytes(marker(t).toPath)
          new String(bytes, "UTF-8") == fingerprint(src)
        }
      def register(t: String, loc: java.io.File, cols: String, key: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $t")
        s.sql(s"""CREATE TABLE $t ($cols) USING parquet
                 |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
                 |LOCATION '${loc.getAbsolutePath}'""".stripMargin)
      }
      val (oDir, lDir) = (whDir(ot), whDir(lt))
      if (markerMatches(oDir, "orders") && markerMatches(lDir, "lineitem")) {
        register(ot, oDir, "o_orderkey BIGINT, o_orderpriority STRING", "o_orderkey")
        register(lt, lDir, "l_orderkey BIGINT, l_quantity DOUBLE", "l_orderkey")
        return (ot, lt)
      }
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $lt")
      Seq(oDir, lDir).foreach(FileUtils.deleteQuietly)
      rd(s, dir, "orders")
        .select($"o_orderkey", $"o_orderpriority")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(ot)
      rd(s, dir, "lineitem")
        .select($"l_orderkey", $"l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(lt)
      java.nio.file.Files.write(marker(oDir).toPath, fingerprint("orders").getBytes("UTF-8"))
      java.nio.file.Files.write(marker(lDir).toPath, fingerprint("lineitem").getBytes("UTF-8"))
      (ot, lt)
    }

  /** One-time date-partitioned events fixture for q30: events written
    * `partitionBy(day_num)` (exact integer epoch-day from the nano
    * timestamp — no timezone arithmetic), reused across JVMs via the
    * same source-fingerprint marker as [[bucketedFixture]]. The
    * warehouse pattern for a 100 TB event store: time-partitioned
    * layout so a day query reads one partition, not the table.
    */
  def ensurePartitionedEvents(s: SparkSession, dir: String): Unit = {
    partitionedEvents(s, dir).limit(1).count()
  }

  private def partitionedEvents(s: SparkSession, dir: String): DataFrame =
    Relational.synchronized {
      import s.implicits._
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val loc = new java.io.File(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        s"graft_p_events_$tag")
      val src = new java.io.File(dir, "events.parquet")
      val fp = s"${src.getAbsolutePath}|${src.length()}|${src.lastModified()}"
      val marker = new java.io.File(loc.getParentFile, s"${loc.getName}_source")
      val fresh = marker.isFile && loc.isDirectory &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == fp
      if (!fresh) {
        Seq(loc, marker).foreach(FileUtils.deleteQuietly)
        events(s, dir)
          .select($"event_id", $"user_id", $"event_type", $"value",
            expr("ts div 1000000000 div 86400").as("day_num"))
          .write.partitionBy("day_num").mode("overwrite")
          .parquet(loc.getAbsolutePath)
        java.nio.file.Files.write(marker.toPath, fp.getBytes("UTF-8"))
      }
      // explicit schema: a zero-row source writes no partition dirs, and
      // schema inference on an empty store is an AnalysisException — the
      // empty-shard case must read as an empty relation instead
      val storeSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("day_num", org.apache.spark.sql.types.LongType)))
      s.read.schema(storeSchema).parquet(loc.getAbsolutePath)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Scan -> filter -> project -> partial+final hash aggregate
    // (SURVEY §2.1 ops #1,#2,#4; TPC-H Q1 shape).
    "q01_pricing_summary" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity".cast(M)).cast("double").as("sum_qty"),
          sum($"l_extendedprice".cast(M)).cast("double").as("sum_base_price"),
          sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(M))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          countDistinct($"l_partkey").as("n_parts"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // Grid-cell histogram — the engine's spatial pre-aggregation shape
    // (SURVEY §2.1 ops #3,#4) over (quantity, price) space.
    "q02_grid_histogram" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "lineitem")
        .groupBy(
          floor($"l_quantity" / 5).cast("long").as("qbin"),
          floor($"l_extendedprice" / 5000).cast("long").as("pbin"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"qbin", $"pbin")
    },

    // Broadcast hash equi join + aggregate (SURVEY §2.1 op #20).
    "q03_broadcast_join_agg" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "lineitem")
        .join(broadcast(rd(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(
          sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(M))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"p_brand")
    },

    // Broadcast theta (range-containment) join — the duplicate-assign
    // join shape (SURVEY §2.1 op #8): small side defines bands, big side
    // lands by containment; executes as BroadcastNestedLoopJoin.
    "q04_theta_band_join" -> { (s, dir) =>
      import s.implicits._
      val bands = broadcast(rd(s, dir, "region")
        .select($"r_name", ($"r_regionkey".cast("double") * 40000).as("lo"),
          (($"r_regionkey" + 1).cast("double") * 40000).as("hi")))
      rd(s, dir, "orders")
        .join(bands, $"o_totalprice" >= $"lo" && $"o_totalprice" < $"hi")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast(M)).cast("double").as("band_total"))
        .orderBy($"r_name")
    },

    // Multi-way equi join star (join reordering + broadcast of dims).
    "q05_star_join_revenue" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "customer")
        .join(rd(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .join(rd(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
        .join(rd(s, dir, "supplier"),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(rd(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(rd(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
        .groupBy($"n_name")
        .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(M))
          .cast("double").as("revenue"))
        .orderBy($"n_name")
    },

    // Left-semi join (EXISTS).
    "q06_semi_join" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "customer")
        .join(rd(s, dir, "orders").filter($"o_totalprice" > 150000),
          $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },

    // Left-anti join (NOT EXISTS).
    "q07_anti_join" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "customer")
        .join(rd(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },

    // Distinct (SURVEY §2.1 op #18).
    "q08_distinct_pairs" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "lineitem")
        .select($"l_returnflag", $"l_linestatus").distinct()
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // Arg-max dedup via window row_number — the cross-partition merge
    // shape (SURVEY §2.1 op #22): one row per key, best row wins.
    "q09_argmax_dedup" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"l_orderkey")
        .orderBy($"l_extendedprice".desc, $"l_linenumber".asc)
      rd(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"l_orderkey", $"l_partkey".as("best_part"),
          $"l_extendedprice".as("best_price"))
        .orderBy($"l_orderkey")
    },

    // Union all + re-aggregate (SURVEY §2.1 op #23).
    "q10_union_all" -> { (s, dir) =>
      import s.implicits._
      val o = rd(s, dir, "orders")
      val hi = o.filter($"o_totalprice" >= 200000).select(lit("high").as("bucket"), $"o_totalprice")
      val lo = o.filter($"o_totalprice" < 50000).select(lit("low").as("bucket"), $"o_totalprice")
      hi.unionByName(lo)
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"), sum($"o_totalprice".cast(M)).cast("double").as("total"))
        .orderBy($"bucket")
    },

    // Window functions: rank + running sum per customer.
    "q11_window_running" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      rd(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("running_total",
          sum($"o_totalprice".cast(M)).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"o_orderkey", $"rn", $"running_total")
        .orderBy($"o_custkey", $"rn")
    },

    // Top-k: global sort + limit with deterministic tie-break.
    "q12_topk_orders" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(10)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },

    // Rollup (grouping sets — beyond the reference's surface).
    "q13_rollup" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity".cast(M)).cast("double").as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce($"l_returnflag", lit("ALL")).as("rflag"),
          coalesce($"l_linestatus", lit("ALL")).as("lstatus"),
          $"sum_qty", $"n")
        .orderBy($"rflag", $"lstatus")
    },

    // Scalar string functions (expression surface).
    "q14_string_funcs" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "part")
        .filter($"p_name".like("%a%"))
        .select(
          $"p_partkey",
          upper(substring($"p_name", 1, 8)).as("prefix"),
          length($"p_name").as("name_len"),
          element_at(split($"p_type", " "), 1).as("type_head"),
          concat($"p_brand", lit("/"), $"p_type").as("brand_type"))
        .orderBy($"p_partkey")
    },

    // Date/time extraction + aggregate.
    "q15_date_agg" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "orders")
        .groupBy(
          year($"o_orderdate").cast("long").as("o_year"),
          month($"o_orderdate").cast("long").as("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast(M)).cast("double").as("monthly_total"))
        .orderBy($"o_year", $"o_month")
    },

    // Conditional aggregation + HAVING.
    "q16_case_having" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "customer")
        .groupBy($"c_nationkey")
        .agg(
          sum(when($"c_acctbal" > 5000, 1).otherwise(0)).cast("long").as("n_rich"),
          count(lit(1)).as("n_total"))
        .filter($"n_total" >= 3)
        .orderBy($"c_nationkey")
    },

    // Semi-join into aggregate (TPC-H Q4 shape).
    "q17_exists_agg" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "orders")
        .join(rd(s, dir, "lineitem").filter($"l_quantity" > 45),
          $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    },

    // Scalar (uncorrelated) subquery: compare to a global aggregate.
    "q18_scalar_subquery" -> { (s, dir) =>
      import s.implicits._
      val c = rd(s, dir, "customer")
      val gavg = c.agg(avg($"c_acctbal").as("gavg"))
      c.crossJoin(broadcast(gavg))
        .filter($"c_acctbal" > $"gavg")
        .select($"c_custkey", $"c_acctbal")
        .orderBy($"c_custkey")
    },

    // Sessionization: window lag + conditional cumulative count
    // (gaps-and-islands over the events stream table).
    "q19_sessionize" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000") // exact epoch seconds from nanos
      val w = Window.partitionBy($"user_id").orderBy(secs, $"event_id")
      events(s, dir)
        .withColumn("prev_s", lag(secs, 1).over(w))
        .withColumn("new_sess",
          when($"prev_s".isNull || (secs - $"prev_s") > 1800, 1).otherwise(0))
        .groupBy($"user_id")
        .agg(sum($"new_sess").cast("long").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy($"user_id")
    },

    // Wide conditional aggregation (pivot shape) per event type.
    "q20_conditional_pivot" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy($"user_id")
        .agg(
          sum(when($"event_type" === "click", 1).otherwise(0)).cast("long").as("n_click"),
          sum(when($"event_type" === "view", 1).otherwise(0)).cast("long").as("n_view"),
          sum(when($"event_type" === "purchase", 1).otherwise(0)).cast("long").as("n_purchase"),
          sum(when($"event_type" === "error", 1).otherwise(0)).cast("long").as("n_error"),
          sum($"value".cast(M)).cast("double").as("total_value"))
        .orderBy($"user_id")
    },

    // The inverse reshape of q20: UNPIVOT wide per-user counters back
    // to (user_id, metric, value) long form via stack() — stays a
    // narrow codegen'd Generate, no shuffle beyond q20's aggregate.
    "q31_unpivot" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy($"user_id")
        .agg(
          sum(when($"event_type" === "click", 1).otherwise(0)).cast("long").as("n_click"),
          sum(when($"event_type" === "view", 1).otherwise(0)).cast("long").as("n_view"),
          sum(when($"event_type" === "purchase", 1).otherwise(0)).cast("long").as("n_purchase"))
        .select($"user_id", expr(
          """stack(3, 'click', n_click, 'view', n_view, 'purchase', n_purchase)
            |AS (metric, n)""".stripMargin))
        .filter($"n" > 0)
        .orderBy($"user_id", $"metric")
    },

    // Set ops beyond the reference: INTERSECT (distinct semantics).
    "q21_intersect" -> { (s, dir) =>
      import s.implicits._
      val li = rd(s, dir, "lineitem")
      li.filter($"l_discount" > 0.08).select($"l_partkey")
        .intersect(li.filter($"l_quantity" > 40).select($"l_partkey"))
        .orderBy($"l_partkey")
    },

    // Set ops: EXCEPT (distinct semantics).
    "q22_except" -> { (s, dir) =>
      import s.implicits._
      val li = rd(s, dir, "lineitem")
      li.filter($"l_discount" > 0.08).select($"l_partkey")
        .except(li.filter($"l_quantity" > 40).select($"l_partkey"))
        .orderBy($"l_partkey")
    },

    // Semi-structured string extraction (props is a JSON-ish string).
    "q23_json_extract" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .withColumn("k", regexp_extract($"props", "[0-9]+", 0).cast("long"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy($"event_type")
    },

    // Skew-mitigation: 100k events collapse onto 3 hot keys; the salted
    // join spreads each hot key over 8 (key, salt) buckets. Result
    // provably identical to the plain join (same oracle shape).
    "q24_salted_join" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).withColumn("hot_key", ($"user_id" % 3).cast("long"))
      val dim = s.createDataFrame(Seq(
        (0L, "alpha"), (1L, "beta"), (2L, "gamma"))).toDF("hot_key", "label")
      graft.operators.SkewJoin.salted(ev, dim, "hot_key", factor = 8, saltBy = $"event_id")
        .groupBy($"label")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(18, 4))).cast("double").as("total_value"))
        .orderBy($"label")
    },

    // As-of join: each order looks up the same customer's latest
    // strictly-earlier order (merge-style single shuffle — no
    // join-then-argmax explosion).
    "q25_asof_prev_order" -> { (s, dir) =>
      import s.implicits._
      val o = rd(s, dir, "orders")
      graft.operators.AsOfJoin.latestBefore(o, o,
          key = "o_custkey", leftTime = "o_orderdate", rightTime = "o_orderdate",
          payload = struct($"o_orderkey", $"o_orderdate"), ord = $"o_orderkey")
        .select($"o_orderkey", $"asof.o_orderkey".as("prev_orderkey"),
          datediff($"o_orderdate".cast("date"), $"asof.o_orderdate".cast("date"))
            .cast("long").as("gap_days"))
        .orderBy($"o_orderkey")
    },

    // Sketch: a deterministic Bloom filter (typed Aggregator, O(m) state,
    // bitwise-OR merge) over high-value customers, probed for every
    // customer. m=512/k=3 is deliberately small so real false positives
    // appear — the oracle reproduces them bit-for-bit.
    "q26_bloom_probe" -> { (s, dir) =>
      import s.implicits._
      val (m, kh) = (512, 3)
      val hot = persist(rd(s, dir, "orders")
        .filter($"o_totalprice" > 495000.0)
        .select($"o_custkey").distinct()) // feeds two jobs: the filter build and the exact set
      // headOption: an empty hot set (empty shard / first day) yields
      // zero groups — the filter is then the all-zero sketch, not a crash
      val words = hot.as[Long]
        .groupByKey(_ => 0)
        .agg(new graft.functions.BloomAgg(m, kh).toColumn.name("bloom"))
        .map(_._2)
        .collect().headOption
        .getOrElse(new Array[Long](m / 64))
      val hotSet = hot.as[Long].collect().toSet
      hot.unpersist() // both consumers (words, hotSet) are materialized
      val bHot = s.sparkContext.broadcast(hotSet)
      val bWords = s.sparkContext.broadcast(words)
      rd(s, dir, "customer").select($"c_custkey".cast("long").as("c_custkey"))
        .as[Long]
        .map { ck =>
          (ck, graft.functions.BloomAgg.mightContain(bWords.value, m, kh, ck),
            bHot.value.contains(ck))
        }
        .toDF("c_custkey", "maybe_member", "exact_member")
        .orderBy($"c_custkey")
    },

    // Array construction + higher-order scalar functions: per-order
    // sorted quantity vector, filtered/transformed/folded with exact
    // integer arithmetic (collect_list is order-nondeterministic, so
    // sort_array canonicalizes before anything reads positions).
    // Array-valued OUTPUT columns are serialized to CSV strings — the
    // driver's comparator sorts rows in pandas, which cannot hash raw
    // list cells; integer-to-string rendering is engine-identical.
    "q27_array_funcs" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(sort_array(collect_list($"l_quantity".cast("long"))).as("qtys"))
        .select($"l_orderkey",
          concat_ws(",", transform($"qtys", q => q.cast("string"))).as("qtys_csv"),
          size($"qtys").cast("long").as("n_items"),
          element_at($"qtys", -1).as("max_qty"),
          aggregate($"qtys", lit(0L), (acc, q) => acc + q).as("sum_qty"),
          size(filter($"qtys", q => q >= 25L)).cast("long").as("n_large"),
          concat_ws(",", transform($"qtys", q => (q * 2).cast("string"))).as("doubled_csv"))
        .orderBy($"l_orderkey")
    },

    // Bucketed-warehouse co-located join: both sides written
    // bucketBy(8, join key) + sortBy, so the sort-merge join reads
    // pre-shuffled, pre-sorted buckets — the join subtree has NO
    // Exchange (asserted below; at 100 TB that is the difference
    // between joining in place and re-shuffling the fact table on
    // every query). The aggregate after the join still shuffles by its
    // own key, as it should. Table creation is a one-time warehouse
    // fixture ([[bucketedFixture]]) — the query times the join, not
    // DDL + parquet writes (the r2 bench line was ~90% table build).
    "q29_bucketed_join" -> { (s, dir) =>
      import s.implicits._
      val (ot, lt) = bucketedFixture(s, dir)
      // big-big join scenario: the merge hint keeps the join a co-located
      // SortMergeJoin in the plan itself, so the require checks the plan
      // that runs
      val joined = s.table(lt)
        .join(s.table(ot).hint("merge"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
        s"bucketed join must be co-located (no Exchange); got:\n$plan")
      joined
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum($"l_quantity".cast(M)).cast("double").as("sum_qty"))
        .orderBy($"o_orderpriority")
    },

    // Partition-pruned scan over the time-partitioned event store
    // ([[partitionedEvents]] — build-once day_num layout): a one-day
    // query must read ONE partition, not the table. The plan assertion
    // pins it: the day predicate appears in the scan's PartitionFilters
    // (directory-level pruning — at 100 TB the difference between
    // listing one day and scanning three years).
    "q30_partition_pruned_scan" -> { (s, dir) =>
      import s.implicits._
      val q = partitionedEvents(s, dir)
        .filter($"day_num" === 19727L) // 2024-01-05
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast(M)).cast("double").as("total_value"))
        .orderBy($"event_type")
      val scan = q.queryExecution.executedPlan.toString
      // an empty store plans as an empty relation (nothing to prune)
      require(!scan.contains("Scan parquet") ||
          (scan.contains("PartitionFilters") && scan.contains("day_num")),
        s"day filter must prune partitions at the scan; got:\n$scan")
      q
    },

    // Exact percentiles (sort-based `percentile`, NOT the approx
    // sketch): type-7 linear interpolation over integer quantities is
    // bit-reproducible across engines.
    "q28_percentiles" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          expr("percentile(cast(l_quantity as bigint), 0.25)").as("p25_qty"),
          expr("percentile(cast(l_quantity as bigint), 0.5)").as("median_qty"),
          expr("percentile(cast(l_quantity as bigint), 0.75)").as("p75_qty"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    },

    // Left outer join preserving empty groups (count(col) null semantics
    // — the outer-join surface the reference has nowhere).
    "q32_outer_join" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "customer")
        .join(rd(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("n_orders"),
          coalesce(sum($"o_totalprice".cast(M)).cast("double"), lit(0.0)).as("spend"))
        .orderBy($"c_custkey")
    },

    // Full grouping-set lattice (CUBE — q13 covers the rollup chain).
    "q33_cube" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity".cast(M)).cast("double").as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce($"l_returnflag", lit("ALL")).as("rflag"),
          coalesce($"l_linestatus", lit("ALL")).as("lstatus"),
          $"sum_qty", $"n")
        .orderBy($"rflag", $"lstatus")
    },

    // KMV (bottom-k) distinct-count sketch beside the exact count: the
    // mergeable cardinality estimator whose estimate is a DETERMINISTIC
    // function of the value set under the portable hash (see
    // functions/KmvAgg), so the oracle reproduces it bit-for-bit —
    // the cross-engine-checkable alternative to HLL, same 1/sqrt(k)
    // accuracy class. O(k) state per group, map-side combinable.
    "q35_kmv_distinct" -> { (s, dir) =>
      import s.implicits._
      val k = 32
      // large-multiplier portable hash: spreads the small user-id
      // domain across [0, P) (KmvAgg's input contract)
      val P = 1000000007L
      val hashed = events(s, dir).select($"event_type",
        (lit(736238393L) * ($"user_id" % P) + 12345L) % P as "h")
      val est = hashed.as[(String, Long)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new graft.functions.KmvAgg(k).toColumn.name("est"))
        .toDF("event_type", "est")
        .select($"event_type", round($"est", 6).as("est_users"))
      val exact = events(s, dir).groupBy($"event_type")
        .agg(countDistinct($"user_id").as("n_users"))
      est.join(exact, "event_type")
        .select($"event_type", $"est_users", $"n_users")
        .orderBy($"event_type")
    },

    // GROUPING SETS beyond what rollup/cube can express: two disjoint
    // single-dimension groupings in one pass over the fact table (one
    // Expand + one aggregate — not two scans unioned).
    "q36_grouping_sets" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq($"l_returnflag"), Seq($"l_linestatus")),
          $"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity".cast(M)).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(
          coalesce($"l_returnflag", lit("ALL")).as("rflag"),
          coalesce($"l_linestatus", lit("ALL")).as("lstatus"),
          $"sum_qty", $"n")
        .orderBy($"rflag", $"lstatus")
    },

    // RANGE-frame sliding window: per-order trailing-30-day customer
    // spend, ordered by epoch day so the frame is a true value range
    // (same-day orders all join the frame regardless of row order).
    // Prices sum as exact decimals inside the frame — bit-identical
    // across engines and frame-evaluation orders. Partitioned by
    // customer: shuffles once on the window key, no global sort.
    "q37_rolling_spend" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val o = rd(s, dir, "orders").select($"o_orderkey", $"o_custkey",
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("epoch_day"),
        $"o_totalprice".cast(M).as("price_dec"))
      val w = Window.partitionBy($"o_custkey").orderBy($"epoch_day")
        .rangeBetween(-29, 0)
      o.withColumn("spend_30d", sum($"price_dec").over(w).cast("double"))
        .select($"o_orderkey", $"o_custkey", $"epoch_day", $"spend_30d")
        .orderBy($"o_orderkey")
    },

    // Corpus-wide consecutive rank WITHOUT a single-task sort: the
    // same two-pass GlobalOrder primitive q34 banks on, surfaced as
    // its own query (rank every customer by exact-decimal lifetime
    // spend). The only unpartitioned window in the plan is over the
    // per-partition count frame (<= nParts rows).
    "q38_global_rank" -> { (s, dir) =>
      import s.implicits._
      val spend = rd(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(sum($"o_totalprice".cast(M)).as("spend_dec"))
      graft.operators.GlobalOrder.globalRank(spend,
          Seq($"spend_dec".desc, $"o_custkey".asc), rankName = "spend_rank")
        .select($"o_custkey", $"spend_dec".cast("double").as("spend"), $"spend_rank")
        .orderBy($"spend_rank")
    },

    // Global ntile decile banding over the per-customer aggregate.
    // The naive spelling — `ntile(10) over (order by spend)` with no
    // partition — plans an Exchange SinglePartition: every customer row
    // through ONE sort task, which dies at the corpus-scale design
    // point. GlobalOrder.globalNtile is the distributed equivalent:
    // range-partitioned parallel sort + tiny partition-offset pass,
    // then ntile as per-row arithmetic on (rank, total). Sums are exact
    // decimals so the ordering (and hence decile edges) is
    // deterministic, and the oracle's ntile hash-matches.
    "q34_decile_spend" -> { (s, dir) =>
      import s.implicits._
      val spend = rd(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(sum($"o_totalprice".cast(M)).as("spend_dec"))
      graft.operators.GlobalOrder.globalNtile(spend,
          Seq($"spend_dec".desc, $"o_custkey".asc), 10, tileName = "decile")
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_customers"),
          min($"spend_dec").cast("double").as("min_spend"),
          max($"spend_dec").cast("double").as("max_spend"))
        .orderBy($"decile")
    },

    // Data-sized INTERVAL OVERLAP join without a nested loop: which
    // user sessions ran concurrently? Both sides are corpus-sized
    // (q19's gap-sessions), so neither broadcasts — q04's broadcast
    // band shape doesn't apply. The distributed interval join: each
    // interval explodes to the hour cells it covers (bounded: sessions
    // are minutes long), candidates meet in an EQUI-join on the cell,
    // and each overlapping pair is counted exactly once at the cell of
    // the LATER start (which both intervals provably cover) — the
    // "responsibility cell" dedup, no distinct exchange. Cell width
    // trades fan-out for per-cell population, the knob a 100 TB
    // deployment sizes to its session-length distribution.
    "q39_interval_overlap" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000")
      val w = Window.partitionBy($"user_id").orderBy(secs, $"event_id")
      val iv = events(s, dir)
        .withColumn("sec", secs)
        .withColumn("prev_s", lag($"sec", 1).over(w))
        .withColumn("ns",
          when($"prev_s".isNull || ($"sec" - $"prev_s") > 1800, 1).otherwise(0))
        .withColumn("sess", sum($"ns").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sess")
        .agg(min($"sec").as("st"), max($"sec").as("en"))
      val cells = iv.select($"user_id", $"sess", $"st", $"en",
        explode(sequence(expr("st div 3600"), expr("en div 3600"))).as("cell"))
      cells.as("a").join(cells.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.user_id") < col("b.user_id") &&
            col("a.st") <= col("b.en") && col("b.st") <= col("a.en") &&
            expr("greatest(a.st, b.st) div 3600") === col("a.cell"))
        .select(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"),
          col("a.sess").cast("long").as("sess_a"),
          col("b.sess").cast("long").as("sess_b"),
          (least(col("a.en"), col("b.en")) -
            greatest(col("a.st"), col("b.st"))).as("ov_secs"))
        .orderBy($"user_a", $"user_b", $"sess_a", $"sess_b")
    },

    // Conversion funnel over gap sessions: view -> click (at or after
    // the first view) -> purchase (at or after that click), counted
    // per (user, session) by CHAINED conditional mins — three
    // aggregates reusing one (user_id, sess) shuffle key — rolled up
    // to the single stage-count row of a conversion dashboard.
    "q40_funnel" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000")
      val w = Window.partitionBy($"user_id").orderBy(secs, $"event_id")
      val sess = events(s, dir)
        .withColumn("sec", secs)
        .withColumn("prev_s", lag($"sec", 1).over(w))
        .withColumn("ns",
          when($"prev_s".isNull || ($"sec" - $"prev_s") > 1800, 1).otherwise(0))
        .withColumn("sess", sum($"ns").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select($"user_id", $"sess", $"event_type", $"sec")
      val mv = sess.groupBy($"user_id", $"sess")
        .agg(min(when($"event_type" === "view", $"sec")).as("mv"))
      val mc = sess.join(mv, Seq("user_id", "sess"))
        .groupBy($"user_id", $"sess")
        .agg(min($"mv").as("mv"),
          min(when($"event_type" === "click" && $"sec" >= $"mv", $"sec")).as("mc"))
      val mp = sess.join(mc, Seq("user_id", "sess"))
        .groupBy($"user_id", $"sess")
        .agg(min($"mv").as("mv"), min($"mc").as("mc"),
          min(when($"event_type" === "purchase" && $"sec" >= $"mc", $"sec")).as("mp"))
      mp.agg(count(lit(1)).as("n_sessions"),
        sum(when($"mv".isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when($"mc".isNotNull, 1L).otherwise(0L)).as("n_click"),
        sum(when($"mp".isNotNull, 1L).otherwise(0L)).as("n_purchase"))
    },

    // SCD2 dimension-history build (the warehouse "type-2 slowly
    // changing dimension"): collapse each user's event-type sequence
    // into change runs (islands by VALUE change, vs q19's islands by
    // time gap), then derive [valid_from, valid_to) intervals with the
    // open current row flagged. One shuffle by user_id serves both
    // windows and the run aggregate; the interval chaining (lead) is a
    // second window over the already-aggregated runs — rows there are
    // runs, not events, so the re-sort is over the collapsed set.
    "q41_scd2_history" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000")
      val w = Window.partitionBy($"user_id").orderBy(secs, $"event_id")
      val runs = events(s, dir)
        .withColumn("sec", secs)
        .withColumn("prev_t", lag($"event_type", 1).over(w))
        .withColumn("chg",
          when($"prev_t".isNull || $"prev_t" =!= $"event_type", 1).otherwise(0))
        .withColumn("run_id", sum($"chg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"run_id")
        .agg(min($"event_type").as("status"), min($"sec").as("valid_from"),
          count(lit(1)).as("n_events"))
      val wu = Window.partitionBy($"user_id").orderBy($"run_id")
      runs
        .withColumn("valid_to", lead($"valid_from", 1).over(wu))
        .withColumn("is_current", when($"valid_to".isNull, 1).otherwise(0))
        .orderBy($"user_id", $"run_id")
    },

    // Z-order (Morton) storage clustering key over the events point
    // space — the Delta/Iceberg ZORDER layout primitive, computed with
    // codegen'd bitwise builtins (functions/ZOrder.scala). Truncating
    // the interleaved key (z div 256) IS the enclosing 16x16-cell
    // spatial tile, which the query proves by aggregating per-tile
    // coordinate envelopes: every tile's x/y span stays inside one
    // 16-cell-aligned window, exactly the property that makes per-file
    // min/max stats prune 2-D range predicates after a z-sorted write
    // (ZOrderLayoutSpec measures the file-level pruning itself).
    "q42_zorder_tiles" -> { (s, dir) =>
      import s.implicits._
      val xc = expr("cast(floor(value * 2) as bigint)")
      val yc = expr("(ts div 1000000000 - 1704067200) div 3600")
      events(s, dir)
        .select(graft.functions.ZOrder.interleave(xc, yc).as("z"),
          xc.as("xc"), yc.as("yc"))
        .groupBy(expr("z div 256").as("tile"))
        .agg(count(lit(1)).as("n"),
          min($"xc").as("x_min"), max($"xc").as("x_max"),
          min($"yc").as("y_min"), max($"yc").as("y_max"))
        .orderBy($"tile")
    },

    // Per-node triangle counts over the session-overlap user graph —
    // the community-density metric — via DEGREE-ORIENTED wedge
    // enumeration (Schank-Wagner / compact-forward): orient every
    // edge from its (degree, id)-smaller endpoint, enumerate wedges
    // only at each triangle's orientation-minimum vertex, and close
    // them with one equi-join against the canonical edge set. Wedge
    // fan-out is then bounded by out-degree <= O(sqrt(m)) per node
    // REGARDLESS of hub skew — the property that keeps the self-join
    // alive at 100 TB where id-ordered enumeration dies on the first
    // high-degree hub. The oracle counts the same triangles the naive
    // id-ordered way, so it independently checks the orientation
    // logic end-to-end (per-node counts are orientation-invariant).
    "q44_triangles" -> { (s, dir) =>
      import s.implicits._
      val edges = sessionOverlapEdges(s, dir)
      val deg = persist(edges.select($"ua".as("u")).union(edges.select($"ub".as("u")))
        .groupBy($"u").agg(count(lit(1)).as("dg")))
      val byLow = $"da" < $"db" || ($"da" === $"db" && $"ua" < $"ub")
      val dirEdges = persist(edges
        .join(deg.select($"u".as("ua"), $"dg".as("da")), "ua")
        .join(deg.select($"u".as("ub"), $"dg".as("db")), "ub")
        .select(when(byLow, $"ua").otherwise($"ub").as("src"),
          when(byLow, $"ub").otherwise($"ua").as("dst")))
      val wedges = dirEdges.as("x").join(dirEdges.as("y"),
          col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
        .select(col("x.src").as("u"), col("x.dst").as("v"),
          col("y.dst").as("wv"))
      val tri = wedges.join(edges, $"v" === $"ua" && $"wv" === $"ub")
        .select($"u", $"v", $"wv")
      // explode, not a 3-way union: a union would re-execute the whole
      // wedge + closing join pipeline once per corner (measured: the
      // q44 plan carried 3 copies of both joins; cosineDBSCAN's
      // explode-not-union lesson applies verbatim)
      tri.select(explode(array($"u", $"v", $"wv")).as("user_id"))
        .groupBy($"user_id").agg(count(lit(1)).as("n_tri"))
        .join(deg.select($"u".as("user_id"), $"dg".as("degree")), "user_id")
        .select($"user_id", $"degree", $"n_tri")
        .orderBy($"user_id")
    },

    // Approximate quantiles via the MERGEABLE one-pass sketch
    // (percentile_approx — Spark's Greenwald-Khanna summary): the
    // bounded-state path that survives 100 TB where q28's sort-based
    // exact percentile does not. The sketch value itself is not
    // engine-portable, so the ORACLE-CHECKED claim is the sketch's
    // guarantee: its estimate's rank lies within n/accuracy of the
    // target rank — a boolean both engines agree on (true when the
    // sketch honors its bound), alongside the exact quantile as the
    // comparable payload. Shape: two scans, both partial-aggregatable
    // (sketch+exact agg, then a broadcast-joined rank count); no sort,
    // no raw-value shuffle.
    "q45_approx_quantiles" -> { (s, dir) =>
      import s.implicits._
      val fracs = Seq(0.25, 0.5, 0.75, 0.95)
      val fracArr = array(fracs.map(lit): _*)
      val li = rd(s, dir, "lineitem").select($"l_returnflag".as("flag"),
        expr("cast(l_extendedprice as bigint)").as("v"))
      val agg = li.groupBy($"flag").agg(
        expr("percentile_approx(v, array(0.25D, 0.5D, 0.75D, 0.95D), 1000)")
          .as("apx"),
        expr("percentile(v, array(0.25D, 0.5D, 0.75D, 0.95D))").as("exact"),
        count(lit(1)).as("n"))
      val est = agg.select($"flag", $"n",
          posexplode(arrays_zip($"apx", $"exact")))
        .select($"flag", $"n",
          element_at(fracArr, $"pos" + 1).as("frac"),
          $"col.apx".as("est_v"), $"col.exact".as("exact_v"))
      // the estimate is an actual input value; with duplicates its rank
      // is the interval [count(v < est), count(v <= est)] — the bound
      // holds when target rank frac*n intersects that interval grown by
      // n/accuracy + 1 (the +1 absorbs the discreteness of the sketch's
      // internal target rank — at n=1962 the summary's error is exactly
      // 2 ranks vs the real-valued 1.962 bound)
      li.join(broadcast(est), "flag")
        .groupBy($"flag", $"frac", $"n", $"exact_v")
        .agg(
          sum(when($"v" < $"est_v", 1L).otherwise(0L)).as("lt"),
          sum(when($"v" <= $"est_v", 1L).otherwise(0L)).as("le"))
        .select($"flag", $"frac", $"exact_v",
          ($"lt" - ($"n" / lit(1000.0) + 1) <= $"frac" * $"n" &&
            $"le" + ($"n" / lit(1000.0) + 1) >= $"frac" * $"n").as("within_bound"))
        .orderBy($"flag", $"frac")
    },

    // CDC MERGE / SCD1 upsert apply: fold a change feed (latest event
    // per key — count + argmax-struct, one partial-aggregatable shuffle)
    // into a dimension via ONE full-outer equi-join on the merge key,
    // classifying every output row insert/update/keep. The shape every
    // warehouse CDC apply wants at 100 TB: no window over the raw feed,
    // no driver state, and the change aggregate and the merge join share
    // the same hash key so AQE can plan both exchanges together. The
    // feed's compact user-id space is rebased (*31, a sparse spread)
    // onto the dimension key range so all three MERGE branches carry
    // rows at every verification scale.
    "q46_merge_upsert" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000")
      val ch = events(s, dir)
        .select(($"user_id" * 31L).as("mk"), $"event_id", $"event_type", secs.as("s"))
        .groupBy($"mk")
        .agg(count(lit(1)).as("n_events"),
          max(struct($"s", $"event_id", $"event_type")).as("last"))
        .select($"mk", $"n_events",
          $"last.s".as("last_seen_s"), $"last.event_type".as("last_type"))
      rd(s, dir, "customer")
        .join(ch, $"c_custkey" === $"mk", "full_outer")
        .select(
          coalesce($"c_custkey", $"mk").as("merge_key"),
          when($"c_custkey".isNotNull && $"mk".isNotNull, "update")
            .when($"c_custkey".isNull, "insert")
            .otherwise("keep").as("action"),
          $"c_name", $"c_mktsegment", $"last_type", $"last_seen_s",
          coalesce($"n_events", lit(0L)).as("n_events"))
        .orderBy($"merge_key")
    },

    // Cohort retention: users cohorted by first-SIGNUP epoch-week, then
    // the (cohort, week-offset) activity matrix every growth dashboard
    // draws (activity at/after signup; never-signed-up users drop out).
    // Plan: ONE scan and ONE user_id shuffle for the whole feed — a
    // single hash aggregate computes both the distinct active weeks
    // (collect_set: state bounded by the retention horizon, partials
    // dedup map-side) and the conditional signup min; explode the
    // per-user week set (rows are unique per (user, week) by
    // construction, so the final (cohort, offset) count IS
    // count-distinct-users with no expand). The naive spelling
    // (distinct + separate cohort agg + join) scans the feed twice and
    // shuffles three times. Cohort sizes come from offset 0 via a
    // broadcast-sized self-join on the tiny result.
    "q47_retention_cohorts" -> { (s, dir) =>
      import s.implicits._
      val wk = expr("ts div 1000000000 div 604800")
      // dozens of rows, two consumers — persist or the feed aggregate
      // runs once per branch (PlanShapeSpec pins the single feed scan)
      val ret = persist(events(s, dir)
        .groupBy($"user_id")
        .agg(collect_set(wk).as("weeks"),
          min(when($"event_type" === "signup", wk)).as("cw"))
        .filter($"cw".isNotNull)
        .select($"cw", explode($"weeks").as("week"))
        .filter($"week" >= $"cw")
        .groupBy($"cw".as("cohort_week"), ($"week" - $"cw").as("offset_weeks"))
        .agg(count(lit(1)).as("n_active")))
      val sizes = ret.filter($"offset_weeks" === 0)
        .select($"cohort_week", $"n_active".as("cohort_size"))
      ret.join(broadcast(sizes), "cohort_week")
        .select($"cohort_week", $"offset_weeks", $"n_active", $"cohort_size",
          round($"n_active".cast("double") / $"cohort_size", 6).as("retention"))
        .orderBy($"cohort_week", $"offset_weeks")
    },

    // k-distance diagnostic for DBSCAN eps selection — the missing
    // piece of the reference's own workflow (its README has users pick
    // eps by eyeballing the sorted k-NN-distance curve; reference:
    // README.md:40-75). A BOUNDED deterministic probe set (smallest
    // portable hash of event_id, distributed top-k — the codebook
    // recipe, so probe count is constant at any corpus size) broadcasts
    // against ONE corpus scan in the dbscan_events (value, hours)
    // space; the exact 4-NN distance per probe comes from a per-probe
    // per-partition top-k kernel over the probe x corpus pairs: the
    // 256 probes ride the task closure (KBs), each partition streams
    // its rows ONCE through a tight distance loop keeping the 4
    // smallest (d2, id) per probe in insertion-sorted arrays, and the
    // shuffle carries <= 256 x 4 rows per partition into the KDistAgg
    // merge. The declarative spellings measured: global window 29 s,
    // typed groupByKey aggregate 19 s (the per-pair encoder/allocation
    // tax on 26M rows); this kernel ~1 s — the sanctioned
    // mapPartitions case, same contract as the local-DBSCAN kernels.
    "q49_kdist_eps" -> { (s, dir) =>
      import s.implicits._
      val P = 1000000007L
      val pts = events(s, dir).select($"event_id",
        $"value".as("x"),
        ((expr("ts div 1000000000") - lit(1704067200L)) / 3600.0).as("y"))
      val probeRows = pts
        .withColumn("h", (lit(3L) * ($"event_id" % P) + 8L) % P)
        .orderBy($"h", $"event_id").limit(256)
        .select($"event_id", $"x", $"y")
        .collect() // bounded at 256 by construction
      val qId = probeRows.map(_.getLong(0))
      val qx = probeRows.map(_.getDouble(1))
      val qy = probeRows.map(_.getDouble(2))
      val k = 4
      val partials = pts.as[(Long, Double, Double)].mapPartitions { it =>
        val nq = qId.length
        val bd = Array.fill(nq, k)(Double.PositiveInfinity)
        val bi = Array.fill(nq, k)(Long.MaxValue)
        it.foreach { case (id, x, y) =>
          var q = 0
          while (q < nq) {
            if (id != qId(q)) {
              val dx = x - qx(q); val dy = y - qy(q)
              val d2 = dx * dx + dy * dy
              val ds = bd(q); val ids = bi(q)
              if (d2 < ds(k - 1) || (d2 == ds(k - 1) && id < ids(k - 1))) {
                var p = k - 1
                while (p > 0 && (d2 < ds(p - 1) ||
                    (d2 == ds(p - 1) && id < ids(p - 1)))) {
                  ds(p) = ds(p - 1); ids(p) = ids(p - 1); p -= 1
                }
                ds(p) = d2; ids(p) = id
              }
            }
            q += 1
          }
        }
        Iterator.range(0, nq).flatMap { q =>
          Iterator.range(0, k).filter(j => bd(q)(j) < Double.PositiveInfinity)
            .map(j => (qId(q), bd(q)(j), bi(q)(j)))
        }
      }
      val kd = partials
        .groupByKey(_._1)
        .agg(new graft.functions.KDistAgg(k).toColumn.name("d4"))
        .toDF("q_id", "d4")
        .filter(!isnan($"d4"))
        .select($"q_id", round(sqrt($"d4"), 6).as("kdist"))
      val wD = Window.orderBy($"kdist", $"q_id")
      kd.withColumn("decile", ntile(10).over(wD).cast("long"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n"), max($"kdist").as("kdist_max"))
        .orderBy($"decile")
    },

    // Approximate-string (edit-distance <= 1) key-resolution join —
    // the dirty-key entity-resolution operator, via the SymSpell /
    // FastSS deletion neighborhood: two strings are within one edit
    // iff they share a member of D1(x) = {x} ∪ {x minus one char}, so
    // candidate generation is an EQUI-join on exploded deletion
    // variants (an O(len) per-key posting blow-up — never an all-pairs
    // string compare), then the exact levenshtein verifies the
    // candidates (both engines ship the same levenshtein, so the
    // verdict is engine-portable). Probes are deterministic one-char-
    // deletion typos of every 7th customer name; a probe in a zero run
    // legitimately resolves to several customers one digit apart —
    // exactly the many-many verdict a real resolution pipeline ranks.
    // 100 TB shape: both variant sets are keyed by the variant string,
    // the join shuffles on it, and the verify is a per-row kernel.
    "q50_fuzzy_join" -> { (s, dir) =>
      import s.implicits._
      def dvars(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        array_distinct(concat(array(c),
        transform(sequence(lit(1), length(c)),
          i => concat(c.substr(lit(1), i - 1),
            c.substr(i + 1, length(c))))))
      val cust = rd(s, dir, "customer")
      val pos = ($"c_custkey" % length($"c_name")).cast("int") + 1
      val probes = cust.filter($"c_custkey" % 7 === 0)
        .select($"c_custkey".as("probe_key"),
          concat($"c_name".substr(lit(1), pos - 1),
            $"c_name".substr(pos + 1, length($"c_name"))).as("probe"))
      val pv = probes.select($"probe_key", $"probe",
        explode(dvars($"probe")).as("v"))
      val nv = cust.select($"c_custkey", $"c_name",
        explode(dvars($"c_name")).as("v"))
      pv.join(nv, "v")
        .select($"probe_key", $"probe", $"c_custkey", $"c_name")
        .distinct()
        .withColumn("dist", levenshtein($"probe", $"c_name").cast("long"))
        .filter($"dist" <= 1)
        .orderBy("probe_key", "c_custkey")
    },

    // DISTRIBUTED connected components with an oracle row: the
    // large-star/small-star rounds (Kiveris et al. 2014) forced past
    // the driver union-find gate (driverMaxEdges = 0), labeling every
    // user's session-overlap component by its minimum id. d08 and the
    // dedup pipeline take the threshold-gated path (driver UF at
    // oracle scale); this row pins the DISTRIBUTED arm — the one a
    // 100 TB edge set actually runs — against a recursive-CTE
    // min-label-closure oracle on the same edge derivation. Both arms
    // label by component minimum, so the outputs are interchangeable
    // by construction; this makes that claim oracle-checked instead
    // of spec-asserted.
    "q51_graph_components" -> { (s, dir) =>
      import s.implicits._
      val edges = sessionOverlapEdges(s, dir)
      val nodes = events(s, dir).select($"user_id").distinct()
      graft.operators.ConnectedComponents
        .assign(edges, nodes, driverMaxEdges = 0L)
        .select($"id".as("user_id"), $"component")
        .orderBy("user_id")
    },

    // ENTITY RESOLUTION end-to-end (the Fellegi-Sunter pipeline shape:
    // block → compare → cluster): two "sources" (customer + a
    // deterministically-mutated shard standing in for a second feed),
    // deletion-variant blocking (q50's neighborhood — candidates via
    // an equi-join, never all-pairs), the match rule levenshtein ≤ 1
    // AND nationkey AND acctbal agreement (fuzzy name + exact strong
    // attributes — name-only lev ≤ 1 chains serial-numbered names
    // transitively into a 980-member blob at sf0.1; the exact
    // attribute is what real linkage rules anchor on), then the
    // DISTRIBUTED large-star/small-star
    // components (driverMaxEdges = 0, the arm a 100 TB record-linkage
    // run executes) assign each record its canonical min-id entity.
    // Oracle: recursive-CTE min-label closure over the same edges
    // (q51's pattern).
    // HOUR-OF-WEEK SEASONALITY PROFILE — the missing third of the
    // time-series family (q57 gapfill, q63 trend, q58 decay): the
    // 168-bucket weekly phase profile per event type, with the
    // seasonal index a deseasonalization pass divides by and the
    // peak-hour rank. Values integerize to exact milli-units
    // (floor(value·1000) — the q68 convention) so every sum is a
    // commutative bigint fold; the index is a ratio of two
    // exact-double averages (no bigint cross-product that could
    // overflow at 100 TB event counts). At scale: one hash aggregate
    // over the fact scan, a |types|-row broadcast re-aggregate, and a
    // window partitioned by type over ≤168 rows — no global window,
    // no shuffle wider than the (type, hour) key space.
    "q75_seasonality" -> { (s, dir) =>
      import s.implicits._
      val h = events(s, dir)
        .select($"event_type",
          expr("ts div 1000000000 div 3600 % 168").as("how"),
          floor($"value" * 1000).cast("long").as("vfp"))
        .groupBy($"event_type", $"how")
        .agg(count(lit(1)).as("n"), sum($"vfp").as("sv"))
      val t = h.groupBy($"event_type")
        .agg(sum($"n").as("nt"), sum($"sv").as("st"))
      val w = Window.partitionBy($"event_type")
        .orderBy(($"sv".cast("double") / $"n").desc, $"how".asc)
      h.join(broadcast(t), "event_type")
        .withColumn("peak_rnk", row_number().over(w).cast("long"))
        .select($"event_type", $"how", $"n",
          round($"sv".cast("double") / ($"n" * 1000.0), 6).as("avg_value"),
          round(($"sv".cast("double") / $"n") /
            ($"st".cast("double") / $"nt"), 6).as("seasonal_index"),
          $"peak_rnk")
        .orderBy($"event_type", $"how")
    },

    // SESSION ENTRY / EXIT / BOUNCE ANALYSIS — the landing-page table
    // every clickstream warehouse derives after sessionization: per
    // event type, how often it OPENS a q19 session, CLOSES one, and
    // how many of its entries are single-event (bounce) sessions.
    // First/last rows fall out of one min/max over (sec, event_id,
    // type) structs per session (event_id unique → no ties), so the
    // whole query is the q19 user-keyed window + one (user, session)
    // aggregate + two |types|-row readouts full-outer-joined.
    "q76_entry_exit" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000")
      val w = Window.partitionBy($"user_id").orderBy(secs, $"event_id")
      val g = events(s, dir)
        .withColumn("sec", secs)
        .withColumn("prev_s", lag($"sec", 1).over(w))
        .withColumn("new_sess",
          when($"prev_s".isNull || ($"sec" - $"prev_s") > 1800, 1).otherwise(0))
        .withColumn("sid", sum($"new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sid")
        .agg(min(struct($"sec", $"event_id", $"event_type")).as("fst"),
          max(struct($"sec", $"event_id", $"event_type")).as("lst"),
          count(lit(1)).as("n"))
      val entries = g.groupBy($"fst"("event_type").as("event_type"))
        .agg(count(lit(1)).as("n_entries"),
          sum(when($"n" === 1L, 1L).otherwise(0L)).as("n_bounces"))
      val exits = g.groupBy($"lst"("event_type").as("event_type"))
        .agg(count(lit(1)).as("n_exits"))
      entries.join(exits, Seq("event_type"), "full_outer")
        .select($"event_type",
          coalesce($"n_entries", lit(0L)).as("n_entries"),
          coalesce($"n_exits", lit(0L)).as("n_exits"),
          coalesce($"n_bounces", lit(0L)).as("n_bounces"))
        .orderBy("event_type")
    },

    // LABEL-PROPAGATION COMMUNITIES (Raghavan et al. 2007) over the
    // session-overlap user graph — the community-detection third of
    // the graph family (q51 components = connectivity, t21 PageRank =
    // authority; LPA = mesoscale structure inside a component).
    // SYNCHRONOUS update, 3 fixed rounds, labels seeded with the node
    // id, deterministic tie-break (highest neighbor-label count, then
    // smallest label) — every round is bit-replayable, so the whole
    // propagation is hash-checked by a layered SQL oracle. Per round:
    // ONE equi-join of the label table to the symmetrized edges + two
    // commutative hash aggregates (the (node,label) count, then the
    // max(struct(cnt, -label)) argmax — both partial-aggregatable, no
    // window over nodes) + a left join back to the node set (isolated
    // nodes keep their own label). Each round's label table is cut
    // through CacheScope.checkpoint, so the plan stays O(1) in the round
    // count and releaseSession frees every round; at 100 TB every stage
    // keys on the node id and moves O(edges) rows — the same shuffle
    // shape as one CC round.
    "q77_label_propagation" -> { (s, dir) =>
      import s.implicits._
      val edges = sessionOverlapEdges(s, dir)
      // persisted: each of the 3 propagation rounds equi-joins sym; the
      // un-persisted union re-derived it (2 cache scans + the union)
      // once per round
      val sym = persist(edges.select($"ua".as("u"), $"ub".as("v"))
        .unionByName(edges.select($"ub".as("u"), $"ua".as("v"))))
      // persisted: every propagation round left-joins the node set, so
      // the unpersisted spelling re-ran the events scan + distinct 4x
      val nodes = persist(events(s, dir)
        .select($"user_id".cast("long").as("id")).distinct())
      val labels = graft.operators.Graph.labelPropagation(nodes, sym, rounds = 3)
      val sz = labels.groupBy($"lbl")
        .agg(count(lit(1)).as("community_size"))
      labels.join(sz, "lbl")
        .select($"id".as("user_id"), $"lbl".as("community"),
          $"community_size")
        .orderBy("user_id")
    },

    "q74_entity_resolution" -> { (s, dir) =>
      import s.implicits._
      def dvars(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        array_distinct(concat(array(c),
          transform(sequence(lit(1), length(c)),
            i => concat(c.substr(lit(1), i - 1),
              c.substr(i + 1, length(c))))))
      val cust = rd(s, dir, "customer")
      val pos = ($"c_custkey" % length($"c_name")).cast("int") + 1
      val shard = cust.select(($"c_custkey" + 1000000L).as("id"),
        when($"c_custkey" % 3 =!= 0,
          concat($"c_name".substr(lit(1), pos - 1),
            $"c_name".substr(pos + 1, length($"c_name"))))
          .otherwise($"c_name").as("name"),
        $"c_nationkey", $"c_acctbal")
      val recs = cust.select($"c_custkey".cast("long").as("id"),
          $"c_name".as("name"), $"c_nationkey", $"c_acctbal")
        .unionByName(shard)
      val rv = recs.select($"id", $"name", $"c_nationkey", $"c_acctbal",
        explode(dvars($"name")).as("v"))
      val edges = rv.as("a").join(rv.as("b"),
          col("a.v") === col("b.v") && col("a.id") < col("b.id") &&
            col("a.c_nationkey") === col("b.c_nationkey") &&
            col("a.c_acctbal") === col("b.c_acctbal"))
        .select(col("a.id").as("src"), col("b.id").as("dst"),
          col("a.name").as("na"), col("b.name").as("nb"))
        .distinct()
        .filter(levenshtein($"na", $"nb") <= 1)
        .select($"src", $"dst")
      val comp = graft.operators.ConnectedComponents
        .assign(edges, recs.select($"id"), driverMaxEdges = 0L)
        .select($"id", $"component".as("canonical"))
      val sz = comp.groupBy($"canonical")
        .agg(count(lit(1)).as("cluster_size"))
      comp.join(sz, "canonical")
        .select($"id", $"canonical", $"cluster_size",
          ($"cluster_size" > 1L).as("matched"))
        .orderBy("id")
    },

    // Bounded-hop BFS reachability — the iterative-join graph shape
    // (frontier x edges equi-join + min-hop re-aggregate per round,
    // the textbook distributed BFS) that CC/PageRank/triangles don't
    // cover. Hops are FIXED (3), so the plan is three bounded
    // equi-join passes over an edge set that stays keyed by node id —
    // no driver-side frontier, no unbounded iteration. Seeds are the
    // deterministic u % 50 == 0 nodes (seed density constant as the
    // corpus scales). Each hop's table is cut through
    // CacheScope.checkpoint: hop h reads hop h-1 twice (frontier +
    // union), so an uncut plan doubles with every hop; releaseSession
    // frees every hop. The oracle replays it as a recursive CTE.
    "q48_khop_reach" -> { (s, dir) =>
      import s.implicits._
      val edges = sessionOverlapEdges(s, dir)
      val sym = persist(edges.select($"ua".as("u"), $"ub".as("v"))
        .unionByName(edges.select($"ub".as("u"), $"ua".as("v"))))
      var dist = sym.select($"u").distinct().filter($"u" % 50 === 0)
        .select($"u", lit(0L).as("hops"))
      for (h <- 1 to 3) {
        val next = dist.filter($"hops" === (h - 1)).join(sym, "u")
          .select($"v".as("u"), lit(h.toLong).as("hops"))
        dist = checkpoint(dist.unionByName(next)
          .groupBy($"u").agg(min($"hops").as("hops")))
      }
      dist.select($"u".as("user_id"), $"hops").orderBy($"user_id")
    },

    // 2-D skyline / Pareto frontier ("largest recent orders"): the
    // orders no other order beats on BOTH total price (maximize) and
    // order date (minimize). Two-phase distributed skyline
    // ([[graft.operators.Skyline]]): per-partition sort + O(1)-state
    // sweep prunes to local candidates, one shuffle moves only the
    // candidates to a single merge sweep — the corpus never leaves
    // phase 1's narrow scan. Comparisons only (no float arithmetic),
    // so the NOT EXISTS oracle replays the exact row set.
    "q52_skyline" -> { (s, dir) =>
      import s.implicits._
      val o = rd(s, dir, "orders").select($"o_orderkey",
        $"o_totalprice",
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("epoch_day"))
      graft.operators.Skyline
        .skyline2D(s, o, "o_orderkey", "o_totalprice", "epoch_day")
        .orderBy($"o_orderkey")
    },

    // 3-D skyline (price maximize, date minimize, priority minimize —
    // a STRING dimension, lexicographic): the general dominance-buffer
    // skyline ([[graft.operators.Skyline.skyline3D]]) — the 2-D sweep
    // doesn't generalize, so local phases maintain a running-frontier
    // buffer over descending-presorted input, then one candidates-only
    // shuffle merges. Comparisons only; NOT EXISTS oracle.
    "q55_skyline3d" -> { (s, dir) =>
      import s.implicits._
      val o = rd(s, dir, "orders").select($"o_orderkey",
        $"o_totalprice",
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("epoch_day"),
        $"o_orderpriority")
      graft.operators.Skyline.skyline3D(s, o, "o_orderkey",
          "o_totalprice", "epoch_day", "o_orderpriority")
        .orderBy($"o_orderkey")
    },

    // Market-basket frequent pairs (a-priori first pass): top-50
    // part-pair co-occurrences across order baskets, with each part's
    // own support and the pair Jaccard. Scale shape: ONE shuffle
    // builds the baskets (collect_set keyed by order — basket size is
    // bounded by the schema, <= 7 parts/order, so per-key state is
    // O(1)); pairs come from the sorted basket array via a codegen'd
    // nested transform (never a lineitem self-join — the classic
    // basket-mining trap of shuffling the fact table twice), then one
    // hash aggregate counts pairs. Item supports re-derive from the
    // persisted baskets (explode + count), so the corpus is scanned
    // once. The support joins key on part — dim-sized, and AQE
    // broadcasts them at bench scale; at 100 TB the part dim grows
    // with the corpus and the same equi-join shuffles instead, still
    // never all-pairs. Jaccard = one rounded division from exact
    // integer counts; top-50 via TakeOrderedAndProject (partial
    // per-partition top-k, only 50 rows reach the driver-side sort).
    "q56_frequent_pairs" -> { (s, dir) =>
      import s.implicits._
      val baskets = persist(rd(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(array_sort(collect_set($"l_partkey")).as("parts")))
      val pairs = baskets
        .select(explode(expr(
          """flatten(transform(parts, (x, i) ->
            |  transform(slice(parts, i + 2, size(parts)),
            |    y -> struct(x AS part_a, y AS part_b))))""".stripMargin))
          .as("p"))
        .groupBy($"p.part_a".as("part_a"), $"p.part_b".as("part_b"))
        .agg(count(lit(1)).as("n_pairs"))
      val items = baskets
        .select(explode($"parts").as("l_partkey"))
        .groupBy($"l_partkey").agg(count(lit(1)).as("n_item"))
      pairs
        .join(items.select($"l_partkey".as("part_a"), $"n_item".as("n_a")),
          "part_a")
        .join(items.select($"l_partkey".as("part_b"), $"n_item".as("n_b")),
          "part_b")
        .select($"part_a", $"part_b", $"n_pairs", $"n_a", $"n_b",
          round($"n_pairs".cast("double") / ($"n_a" + $"n_b" - $"n_pairs"), 6)
            .as("jaccard"))
        .orderBy($"n_pairs".desc, $"part_a", $"part_b")
        .limit(50)
    },

    // Clickstream transition matrix (first-order Markov paths): for
    // each consecutive same-session event pair (lead over the one
    // per-user window shuffle, gap <= 30 min — q19's session
    // convention), the (from, to) transition count and its row
    // probability. The |types|^2-row count table re-aggregates and
    // joins driver-light; everything data-sized is the single
    // partitioned window pass. Integer counts; probability = one
    // rounded division from exact integers.
    "q54_transitions" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000")
      val w = Window.partitionBy($"user_id").orderBy(secs, $"event_id")
      val tr = events(s, dir)
        .withColumn("sec", secs)
        .withColumn("nxt", lead($"event_type", 1).over(w))
        .withColumn("nxt_sec", lead($"sec", 1).over(w))
        .filter($"nxt".isNotNull && ($"nxt_sec" - $"sec") <= 1800)
        .groupBy($"event_type".as("from_type"), $"nxt".as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy($"from_type".as("f2"))
        .agg(sum($"n").as("n_from"))
      tr.join(tot, $"from_type" === $"f2")
        .select($"from_type", $"to_type", $"n", $"n_from",
          round($"n".cast("double") / $"n_from", 6).as("prob"))
        .orderBy("from_type", "to_type")
    },

    // ANALYZE-style one-pass column statistics — the CBO-stats
    // backbone (what `ANALYZE TABLE ... FOR COLUMNS` computes): per
    // column the row/null counts, exact NDV, and typed min/max, all
    // in ONE global aggregate over the fact table, then unpivoted to
    // per-column stat rows. The multi-count-distinct plans as one
    // Expand (x4 rows) + partial-aggregatable hash aggregate.
    //
    // The 100 TB NDV path rides alongside since round 16: every
    // column's values key through the portable hash family into ONE
    // HLL register aggregate per column (TextIndex.hllEstByGroup —
    // two partial-aggregatable hash aggs, NO expand, O(cols·2^p)
    // state), surfacing as ndv_hll; the exact NDV stays in the row as
    // the measured-error rider (hll_err), so the sketch a petabyte
    // ANALYZE would serve is itself audited by the oracle. Numeric
    // min/max surface as DOUBLE (both engines read identical parquet
    // bits; string rendering of doubles differs between engines,
    // values do not), string min/max as the untouched lexicographic
    // extremes.
    "q53_column_stats" -> { (s, dir) =>
      import s.implicits._
      // spread: the one-file scan plans a single task, so the ×5
      // explode/hash kernel and the multi-distinct expand ran
      // single-threaded (guarded: identity on a wide production scan)
      val o = graft.operators.Par.spread(rd(s, dir, "orders"))
        .withColumn("epoch_day",
          datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
            .cast("long"))
      // per-column portable integer keys → PortableHash family member
      // i (mod 2^30, the HLL hash-width contract) — longs verbatim,
      // doubles via exact cents (floor(x*100 + 0.5), the same IEEE op
      // both engines run), strings via the engine's rolling hash
      val M = 1073741824L // 1 << 30
      def fam(i: Int, key: org.apache.spark.sql.Column) =
        (lit(2L * i + 1) * (key % M) + lit(i.toLong * i + 7)) % M
      val keyed = o.select(explode(array(
          struct(lit("o_custkey").as("col_name"),
            fam(1, $"o_custkey".cast("long")).as("h")),
          struct(lit("o_orderdate_day").as("col_name"),
            fam(2, $"epoch_day").as("h")),
          struct(lit("o_orderkey").as("col_name"),
            fam(0, $"o_orderkey".cast("long")).as("h")),
          struct(lit("o_orderstatus").as("col_name"),
            fam(4, graft.functions.TextAnalysis.rollingHash($"o_orderstatus"))
              .as("h")),
          struct(lit("o_totalprice").as("col_name"),
            fam(3, floor($"o_totalprice" * 100 + 0.5).cast("long")).as("h"))
        )).as("x"))
        .select($"x.col_name", $"x.h").filter($"h".isNotNull)
      val hll = graft.operators.TextIndex
        .hllEstByGroup(keyed, "col_name", "h", p = 10)
        .select($"grp".as("col_name"), $"est".as("ndv_hll"))
      o.agg(
          count(lit(1)).as("n"),
          count($"o_orderkey").as("nn_key"), countDistinct($"o_orderkey").as("ndv_key"),
          min($"o_orderkey").cast("double").as("min_key"),
          max($"o_orderkey").cast("double").as("max_key"),
          count($"o_custkey").as("nn_cust"), countDistinct($"o_custkey").as("ndv_cust"),
          min($"o_custkey").cast("double").as("min_cust"),
          max($"o_custkey").cast("double").as("max_cust"),
          count($"o_totalprice").as("nn_price"), countDistinct($"o_totalprice").as("ndv_price"),
          min($"o_totalprice").as("min_price"), max($"o_totalprice").as("max_price"),
          count($"epoch_day").as("nn_day"), countDistinct($"epoch_day").as("ndv_day"),
          min($"epoch_day").cast("double").as("min_day"),
          max($"epoch_day").cast("double").as("max_day"),
          count($"o_orderstatus").as("nn_st"), countDistinct($"o_orderstatus").as("ndv_st"),
          min($"o_orderstatus").as("min_st"), max($"o_orderstatus").as("max_st"))
        .select(expr("""stack(5,
            'o_custkey',       n - nn_cust,  ndv_cust,  min_cust,  max_cust,
              cast(null as string), cast(null as string),
            'o_orderdate_day', n - nn_day,   ndv_day,   min_day,   max_day,
              cast(null as string), cast(null as string),
            'o_orderkey',      n - nn_key,   ndv_key,   min_key,   max_key,
              cast(null as string), cast(null as string),
            'o_orderstatus',   n - nn_st,    ndv_st,
              cast(null as double), cast(null as double), min_st, max_st,
            'o_totalprice',    n - nn_price, ndv_price, min_price, max_price,
              cast(null as string), cast(null as string)
          ) as (col_name, n_null, ndv, min_v, max_v, min_s, max_s)"""),
          $"n".as("n_rows"))
        .join(hll, Seq("col_name"), "left")
        .select($"col_name", $"n_rows", $"n_null", $"ndv", $"ndv_hll",
          round(abs($"ndv_hll" - $"ndv".cast("double"))
            / $"ndv".cast("double"), 6).as("hll_err"),
          $"min_v", $"max_v", $"min_s", $"max_s")
        .orderBy($"col_name")
    },

    // Deequ-style data audit: the whole constraint suite (row count,
    // null completeness, key uniqueness, value range, categorical
    // domain, date bounds) computed in ONE pass over the fact table —
    // a single partial-aggregatable global aggregate (plus the
    // count-distinct expand) — then unpivoted to the per-constraint
    // verdict rows of a data-quality dashboard. All metrics are exact
    // integers, so the report is engine-portable bit-for-bit.
    "q43_data_audit" -> { (s, dir) =>
      import s.implicits._
      rd(s, dir, "orders").agg(
          count(lit(1)).as("n_rows"),
          count($"o_custkey").as("nn_cust"),
          countDistinct($"o_orderkey").as("uniq_key"),
          sum(when($"o_totalprice" > 0 && $"o_totalprice" <= 600000, 1L)
            .otherwise(0L)).as("price_ok"),
          sum(when($"o_orderstatus".isin("O", "F", "P"), 1L)
            .otherwise(0L)).as("status_ok"),
          sum(when($"o_orderdate" >= lit("1992-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("2010-01-01").cast("timestamp"), 1L)
            .otherwise(0L)).as("date_ok"))
        .select(
          expr("stack(6, " +
            "'completeness_custkey', nn_cust, " +
            "'domain_orderdate', date_ok, " +
            "'domain_status', status_ok, " +
            "'range_totalprice', price_ok, " +
            "'row_count', n_rows, " +
            "'unique_orderkey', uniq_key) as (check_name, observed)"),
          $"n_rows".as("total"))
        .withColumn("pass", when($"observed" === $"total", 1).otherwise(0))
        .orderBy($"check_name")
    },

    // Gap-filled time series (the dashboarding/feature-store shape):
    // hourly event counts per type over a DENSE calendar — missing
    // hours appear as explicit zero rows — plus a trailing 3-hour
    // moving sum. The only data-sized work is the one hour×type
    // aggregate; the calendar is GENERATED (sequence+explode over the
    // observed [min,max] hour span) from the aggregate's own bounds,
    // so the gap-fill join and the moving window run on O(hours×types)
    // rows however big the fact table is. At 100 TB the dense grid for
    // a year is still <50k rows/type — driver-light by construction.
    "q57_gapfill_series" -> { (s, dir) =>
      import s.implicits._
      val counts = persist(events(s, dir)
        .groupBy(expr("ts div 1000000000 div 3600").as("hour"), $"event_type")
        .agg(count(lit(1)).as("n"))) // three tiny consumers: bounds, types, the gap-fill join
      val cal = counts.agg(min($"hour").as("h0"), max($"hour").as("h1"))
        .select(explode(sequence($"h0", $"h1")).as("hour"))
      val types = counts.select($"event_type").distinct()
      val grid = cal.crossJoin(broadcast(types)) // dense hours × |types|
      grid.join(counts, Seq("hour", "event_type"), "left")
        .na.fill(0L, Seq("n"))
        .withColumn("n_3h", sum($"n").over(
          Window.partitionBy($"event_type").orderBy($"hour")
            .rowsBetween(-2, Window.currentRow)).cast("long"))
        .select($"event_type", $"hour", $"n", $"n_3h")
        .orderBy($"event_type", $"hour")
    },

    // Recency-weighted engagement score (the feature-pipeline decay
    // shape): every event contributes w(type) · 2^(30−age_hours) for
    // age ≤ 30h before the corpus reference hour (= global max event
    // hour), else 0. Powers of two on integer weights keep the score
    // an EXACT bigint — order-independent under partial aggregation,
    // bit-replayable by the oracle (no transcendental decay). One
    // data-sized groupBy(user); the reference hour is a broadcast
    // scalar. The double rendering is one long→double conversion and
    // one exact ÷2^30 — deterministic in both engines.
    "q58_decay_score" -> { (s, dir) =>
      import s.implicits._
      val e = events(s, dir)
        .select($"user_id", expr("ts div 1000000000 div 3600").as("h"),
          when($"event_type" === "purchase", 16L)
            .when($"event_type" === "click", 4L)
            .when($"event_type" === "view", 2L)
            .when($"event_type" === "error", 0L)
            .otherwise(1L).as("w"))
      val ref = e.agg(max($"h").as("rh"))
      e.crossJoin(broadcast(ref))
        .withColumn("age", $"rh" - $"h")
        .groupBy($"user_id")
        .agg(
          sum(when($"age" <= 30,
            $"w" * expr("shiftleft(1L, cast(30 - age as int))"))
            .otherwise(0L)).cast("long").as("score_fp"),
          sum(when($"age" <= 30, 1L).otherwise(0L)).cast("long").as("n_recent"),
          count(lit(1)).as("n_events"))
        .withColumn("score", $"score_fp".cast("double") / lit(1073741824.0))
        .select($"user_id", $"score_fp", $"n_recent", $"n_events", $"score")
        .orderBy($"user_id")
    },

    // TPC-H Q21's shape ("suppliers who kept orders waiting") WITHOUT
    // the textbook lineitem self-joins: the correlated EXISTS (another
    // supplier on the order) and NOT EXISTS (another LATE supplier)
    // collapse into per-order aggregates — countDistinct suppliers,
    // countDistinct late suppliers, and the arg-max trick (if exactly
    // one supplier is late, max picks it). One fact-fact equi-join on
    // the order key + one hash aggregate replaces THREE fact-table
    // scans/joins — the decisive rewrite at 100 TB, where l1×l2×l3
    // self-joins are the classic Q21 bottleneck. Supplier names ride
    // a broadcast dim join; top-20 via TakeOrderedAndProject.
    "q59_waiting_supplier" -> { (s, dir) =>
      import s.implicits._
      // spread: broadcast-join probe + two date parses per row ran in
      // the single scan task of the one-file fixture (guarded:
      // identity on a wide production scan)
      val j = graft.operators.Par.spread(rd(s, dir, "lineitem")
          .select($"l_orderkey", $"l_suppkey", $"l_shipdate"))
        .join(rd(s, dir, "orders").select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .withColumn("late_supp", when(
          datediff($"l_shipdate".cast("date"), $"o_orderdate".cast("date")) > 60,
          $"l_suppkey"))
      val per = j.groupBy($"l_orderkey")
        .agg(countDistinct($"l_suppkey").as("n_supp"),
          countDistinct($"late_supp").as("n_late_supp"),
          max($"late_supp").as("the_late_supp"))
      per.filter($"n_supp" >= 2 && $"n_late_supp" === 1)
        .groupBy($"the_late_supp".as("s_suppkey"))
        .agg(count(lit(1)).as("n_waiting"))
        .join(broadcast(rd(s, dir, "supplier").select($"s_suppkey", $"s_name")),
          "s_suppkey")
        .select($"s_suppkey", $"s_name", $"n_waiting")
        .orderBy($"n_waiting".desc, $"s_suppkey")
        .limit(20)
    },

    // Last-touch attribution — the LOCF (last-observation-carried-
    // forward) window shape: each purchase is attributed to the
    // user's most recent PRECEDING non-purchase event via
    // last(..., ignoreNulls) over an unbounded-preceding frame; the
    // carry-forward never materializes per-row state beyond the one
    // window shuffle on user_id (the same single shuffle q19/q40/q54
    // ride). Revenue sums are per-row decimal casts — exact under
    // any partial-aggregation order. First-ever purchases attribute
    // to 'none' (coalesce), so the row set partitions all purchases.
    "q60_attribution" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000")
      val w = Window.partitionBy($"user_id").orderBy(secs, $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .withColumn("attr", last(
          when($"event_type" =!= "purchase", $"event_type"),
          ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase")
        .groupBy(coalesce($"attr", lit("none")).as("attr_type"))
        .agg(count(lit(1)).as("n_purchases"),
          sum($"value".cast(M)).cast("double").as("total_value"))
        .orderBy($"attr_type")
    },

    // Runtime Bloom-filtered join (sideband semi-join reduction — the
    // generalization of Spark's runtime row-filtering to any join
    // column): build a Bloom sketch over the SMALL side's keys
    // (BloomAgg, one tiny aggregate), broadcast its 64-word bitset as
    // a literal array, and pre-filter the FACT side with pure codegen
    // column arithmetic (portable-hash positions + bit tests — no
    // UDF) BEFORE the join shuffles. No false negatives, so the exact
    // broadcast join downstream removes the (rare) false positives
    // and the result is exactly the plain join — which is the oracle.
    // At 100 TB this is the decisive move: the fact scan ships only
    // ~|hot|/|customers| of its rows into the join.
    "q61_bloom_join" -> { (s, dir) =>
      import s.implicits._
      val (m, kh) = (4096, 3)
      val hot = persist(rd(s, dir, "customer").filter($"c_acctbal" > 9000)
        .select($"c_custkey", $"c_nationkey"))
      val words = hot.select($"c_custkey").as[Long]
        .groupByKey(_ => 0)
        .agg(new graft.functions.BloomAgg(m, kh).toColumn.name("bloom"))
        .map(_._2).collect().headOption
        .getOrElse(new Array[Long](m / 64))
      val w = lit(words)
      val probed = (0 until kh).foldLeft(
        rd(s, dir, "orders").select($"o_orderkey", $"o_custkey", $"o_totalprice")) {
        (df, i) => df.withColumn(s"p$i",
          ($"o_custkey" % m * (2 * i + 1) + lit(i.toLong * i + 7L)) % m)
      }
      val mightContain = (0 until kh).map { i =>
        element_at(w, ($"p$i" / 64).cast("int") + 1)
          .bitwiseAND(expr(s"shiftleft(1L, cast(p$i % 64 as int))")) =!= 0
      }.reduce(_ && _)
      probed.filter(mightContain)
        .join(broadcast(hot), $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast(M)).cast("double").as("total_price"))
        .orderBy($"c_nationkey")
    },

    // Approximate query processing: estimate fact-table aggregates
    // from a DETERMINISTIC hash sample (portable-hash keep predicate —
    // the same sample on any engine/cluster, so the oracle replays the
    // estimate bit-for-bit, false "sampling randomness" drift
    // impossible). Scale-up is exact decimal × integer; the exact
    // answer rides along as the measured error. The sample predicate
    // is a pure projection — at 100 TB the sampled aggregate reads
    // every block but shuffles 1/16 of the rows; with stored
    // sample tables it reads 1/16 of the blocks too.
    "q62_aqp_estimate" -> { (s, dir) =>
      import s.implicits._
      val li = rd(s, dir, "lineitem")
        .withColumn("rid", $"l_orderkey" * 10 + $"l_linenumber")
      val keep = graft.operators.Mixture.portableHash($"rid", i = 5) % 16 === 0
      val samp = li.filter(keep).agg(
        count(lit(1)).as("n_sample"),
        (sum($"l_extendedprice".cast(M)) * 16).cast("double").as("est_revenue"))
      val exact = li.agg(
        count(lit(1)).as("n_total"),
        sum($"l_extendedprice".cast(M)).cast("double").as("exact_revenue"))
      samp.crossJoin(broadcast(exact))
        .withColumn("rel_err",
          round(abs($"est_revenue" - $"exact_revenue") / $"exact_revenue", 6))
        .select($"n_total", $"n_sample", $"exact_revenue", $"est_revenue",
          $"rel_err")
    },

    // In-database closed-form OLS — metric trend detection (is each
    // event type's daily volume rising or falling?): slope/intercept
    // from the five EXACT integer moments (n, Σx, Σx², Σy, Σxy) of the
    // per-type daily-count series, each metric ONE double division
    // from bigints, so the fit is engine-portable bit-for-bit (no
    // iterative solver, no libm beyond the division). Days are
    // centered on the global min (broadcast scalar) to keep every
    // moment product inside long range at any corpus age. Data-sized
    // work: the single day×type count aggregate; the regression runs
    // on O(days×types) rows.
    "q63_trend" -> { (s, dir) =>
      import s.implicits._
      val daily = events(s, dir)
        .groupBy(expr("ts div 1000000000 div 86400").as("day"), $"event_type")
        .agg(count(lit(1)).as("y"))
      val ref = broadcast(daily.agg(min($"day").as("d0")))
      daily.crossJoin(ref)
        .withColumn("x", $"day" - $"d0")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          sum($"x").as("sx"), sum($"x" * $"x").as("sxx"),
          sum($"y").as("sy"), sum($"x" * $"y").as("sxy"))
        .withColumn("num", $"n_days" * $"sxy" - $"sx" * $"sy")
        // den = 0 when a type has a single day (n*sxx = sx² exactly):
        // the slope is undefined, not Inf/NaN — null-guard the division
        // the same way the oracle does with NULLIF so both engines agree
        .withColumn("den", $"n_days" * $"sxx" - $"sx" * $"sx")
        .select($"event_type", $"n_days", $"sy".as("n_events"),
          round(when($"den" =!= 0,
            $"num".cast("double") / $"den".cast("double")), 6).as("slope"),
          round(when($"den" =!= 0,
            ($"sy" * $"den" - $"num" * $"sx").cast("double") /
              ($"n_days" * $"den").cast("double")), 6).as("intercept"))
        .orderBy($"event_type")
    },

    // Peak concurrency — the sweep-line / max-interval-overlap shape
    // (capacity planning: most sessions alive at once): sessions
    // become ±1 deltas at [st, en+1), and concurrency is the GLOBAL
    // running sum over the (t, delta asc) total order — computed by
    // GlobalOrder.globalRunningSum's two-pass range-partition scan,
    // never a single-task sort. Closed-interval semantics come from
    // the −1 sitting at en+1 (a session ending at t and one starting
    // at t DO overlap); at equal t the −1 processes before the +1 so
    // a session starting the second after another ends is NOT counted
    // as concurrent. The peak row (earliest t attaining the max) comes
    // off a TakeOrderedAndProject; session count rides the broadcast
    // scalar shape.
    "q64_peak_concurrency" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000")
      val w = Window.partitionBy($"user_id").orderBy(secs, $"event_id")
      // three consumers: two delta projections + the count
      val iv = persist(events(s, dir)
        .withColumn("sec", secs)
        .withColumn("prev_s", lag($"sec", 1).over(w))
        .withColumn("ns",
          when($"prev_s".isNull || ($"sec" - $"prev_s") > 1800, 1).otherwise(0))
        .withColumn("sess", sum($"ns").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sess")
        .agg(min($"sec").as("st"), max($"sec").as("en")))
      val deltas = iv
        .select($"st".as("t"), lit(1L).as("delta"), $"user_id", $"sess")
        .unionByName(iv
          .select(($"en" + 1).as("t"), lit(-1L).as("delta"), $"user_id", $"sess"))
      val cum = graft.operators.GlobalOrder.globalRunningSum(deltas,
        Seq($"t".asc, $"delta".asc, $"user_id".asc, $"sess".asc),
        $"delta", sumName = "conc")
      cum.orderBy($"conc".desc, $"t".asc).limit(1)
        .select($"t".as("at_sec"), $"conc".as("peak_concurrency"))
        .crossJoin(broadcast(iv.agg(count(lit(1)).as("n_sessions"))))
    },

    // A/B experiment readout — the online-experimentation shape:
    // users assigned to arms by the portable hash (deterministic —
    // the same user lands in the same arm on any engine/cluster,
    // re-runs included), per-user purchase counts as the metric, and
    // Welch's t from the per-arm EXACT integer moments (n, Σx, Σx²)
    // — one textually-fixed double formula (sqrt is IEEE correctly
    // rounded, so it cannot drift between engines, unlike pow/log).
    // Data-sized work: ONE per-user aggregate; the arm stats are a
    // 2-row frame.
    "q65_ab_test" -> { (s, dir) =>
      import s.implicits._
      val arm = graft.operators.Mixture.portableHash($"user_id", i = 9) % 2
      val per = events(s, dir)
        .groupBy($"user_id")
        .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .cast("long").as("x"))
        .withColumn("arm", when(arm === 0, "A").otherwise("B"))
      per.groupBy($"arm")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"x" * $"x").as("sxx"))
        .agg(
          max(when($"arm" === "A", $"n")).as("n_a"),
          max(when($"arm" === "B", $"n")).as("n_b"),
          max(when($"arm" === "A", $"sx")).as("sx_a"),
          max(when($"arm" === "B", $"sx")).as("sx_b"),
          max(when($"arm" === "A", $"sxx")).as("sxx_a"),
          max(when($"arm" === "B", $"sxx")).as("sxx_b"))
        .withColumn("mean_a", $"sx_a".cast("double") / $"n_a")
        .withColumn("mean_b", $"sx_b".cast("double") / $"n_b")
        // an arm with n<=1 has sample variance undefined (denominator
        // n*(n-1)=0): null, not Inf/NaN — mirrored by NULLIF in the
        // oracle so a skewed/tiny corpus can't break engine parity
        .withColumn("var_a",
          when($"n_a" > 1,
            ($"n_a" * $"sxx_a" - $"sx_a" * $"sx_a").cast("double") /
              ($"n_a" * ($"n_a" - 1)).cast("double")))
        .withColumn("var_b",
          when($"n_b" > 1,
            ($"n_b" * $"sxx_b" - $"sx_b" * $"sx_b").cast("double") /
              ($"n_b" * ($"n_b" - 1)).cast("double")))
        .withColumn("se2", $"var_a" / $"n_a" + $"var_b" / $"n_b")
        .select($"n_a", $"n_b",
          round($"mean_a", 6).as("mean_a"), round($"mean_b", 6).as("mean_b"),
          round($"var_a", 6).as("var_a"), round($"var_b", 6).as("var_b"),
          round(when($"se2" > 0,
            ($"mean_a" - $"mean_b") / sqrt($"se2")), 6).as("t_stat"))
    },

    // Revenue proration / allocation — the finance-analytics shape
    // (recognize each line's revenue evenly across its service window):
    // spans are GENERATED (sequence+explode over the clamped
    // order→ship window, ≤90 days), and the split is EXACT
    // largest-remainder integer cents — day i gets cents div nd plus
    // one extra cent iff i < cents mod nd — so per-line allocations
    // sum back to the line exactly and the daily totals are bigints
    // any engine reproduces. One partition-prunable year filter keeps
    // the fact side bounded; the explode is a narrow codegen Generate
    // (no shuffle until the final daily aggregate).
    "q66_prorated_revenue" -> { (s, dir) =>
      import s.implicits._
      val li = rd(s, dir, "lineitem")
        .join(rd(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1995-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1996-01-01").cast("timestamp")),
          $"l_orderkey" === $"o_orderkey")
        .select(
          ($"l_extendedprice".cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"),
          least(greatest(datediff($"l_shipdate".cast("date"),
            $"o_orderdate".cast("date")) + 1, lit(1)), lit(90))
            .cast("long").as("nd"),
          datediff($"o_orderdate".cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("e0"))
      li.select($"cents", $"nd", $"e0",
          explode(sequence(lit(0L), $"nd" - 1)).as("i"))
        .select(($"e0" + $"i").as("epoch_day"),
          expr("cents div nd + (CASE WHEN i < cents % nd THEN 1 ELSE 0 END)")
            .as("amt"))
        .groupBy($"epoch_day")
        .agg(count(lit(1)).as("n_alloc"),
          sum($"amt").cast("long").as("revenue_cents"))
        .withColumn("revenue", $"revenue_cents".cast("double") / 100.0)
        .orderBy($"epoch_day")
    },

    // Mergeable-sketch ROLLUP — the property that makes sketches THE
    // 100 TB aggregation tool: HLL registers built once at the finest
    // grain (region, nation) and every coarser level derived by
    // REGISTER MERGE (max per bucket — exactly the partial-aggregate
    // op), never by rescanning the fact table. Three levels
    // (nation / region / all) read out through the same exact-integer
    // numerator + textually-fixed double estimate as t30/t31; the
    // exact distinct count rides along as measured error. The fact
    // scan happens ONCE; the rollup runs on 2^p-row register tables.
    "q67_sketch_rollup" -> { (s, dir) =>
      import s.implicits._
      val p = 8
      val m = 1 << p
      val maxRho = 31 - p
      val denom = 1L << maxRho
      val P = 1000000007L
      val base = rd(s, dir, "orders")
        .join(rd(s, dir, "customer"), $"o_custkey" === $"c_custkey")
        .join(broadcast(rd(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .select($"n_regionkey".cast("long").as("region"), $"n_name".as("nation"),
          (((lit(736238393L) * ($"o_custkey" % P) + 12345L) % P) % (1L << 30))
            .as("h"))
      val fine = base
        .select($"region", $"nation", ($"h" % m).as("bucket"),
          expr(s"h div $m").as("w"))
        .withColumn("rho",
          expr(s"CASE WHEN w = 0 THEN $maxRho ELSE $maxRho - length(bin(w)) END"))
        .groupBy($"region", $"nation", $"bucket")
        .agg(max($"rho").as("rho"))
      val fineCached = persist(fine) // three consumers: the three rollup levels
      def readout(regs: DataFrame, keys: Seq[org.apache.spark.sql.Column], exact: DataFrame,
          level: String): DataFrame = {
        val estExpr =
          s"""cast(0.7213 as double) / (cast(1.0 as double)
             |  + cast(1.079 as double) / cast($m as double))
             |  * cast($m as double) * cast($m as double)
             |  * cast($denom as double) / cast(num as double)""".stripMargin
        val sums = regs.groupBy(keys: _*).agg(
          count(lit(1)).as("present"),
          sum(expr(s"cast(shiftleft(1L, cast($maxRho - rho as int)) as bigint)"))
            .as("num_present"))
        sums.join(exact, keys.map(_.toString))
          .withColumn("num",
            $"num_present" + (lit(m.toLong) - $"present") * denom)
          .select(lit(level).as("level") +: keys :+
            (lit(m.toLong) - $"present").as("v_zero") :+ $"n_exact" :+
            expr(s"round($estExpr, 6)").as("est"): _*)
      }
      val exFine = base.groupBy($"region", $"nation")
        .agg(countDistinct($"h").as("n_exact"))
      val exRegion = base.groupBy($"region")
        .agg(countDistinct($"h").as("n_exact"))
      val exAll = base.agg(countDistinct($"h").as("n_exact"))
      val nat = readout(fineCached, Seq($"region", $"nation"), exFine, "nation")
      val reg = readout(
        fineCached.groupBy($"region", $"bucket").agg(max($"rho").as("rho")),
        Seq($"region"), exRegion, "region")
        .withColumn("nation", lit(null).cast("string"))
      val all = readout(
        fineCached.groupBy($"bucket").agg(max($"rho").as("rho"))
          .withColumn("region", lit(-1L)),
        Seq($"region"), exAll.select(lit(-1L).as("region"), $"n_exact"),
        "all")
        .withColumn("nation", lit(null).cast("string"))
      nat.select($"level", $"region", $"nation", $"v_zero", $"n_exact", $"est")
        .unionByName(reg.select($"level", $"region", $"nation", $"v_zero",
          $"n_exact", $"est"))
        .unionByName(all.select($"level", $"region", $"nation", $"v_zero",
          $"n_exact", $"est"))
        .orderBy($"level", $"region", $"nation")
    },

    // Robust outlier detection — median + MAD (median absolute
    // deviation), the robust-statistics answer to q63's moment-based
    // 3σ rule (one wild value cannot move either statistic). Both
    // medians run on EVEN-scaled integers (2v, then 2·dev) so the
    // exact percentile's midpoint interpolation lands on integers —
    // engine-portable with no float drift — and the 3-MAD test is the
    // cross-multiplied integer comparison 4·dev > 3·mad4. Two
    // aggregate passes over events (medians per type, then deviations
    // against the broadcast medians); no global sort.
    "q68_mad_outliers" -> { (s, dir) =>
      import s.implicits._
      // three passes: median, MAD, outlier count
      val ev = persist(
        events(s, dir)
          .select($"event_type", expr("cast(floor(value) as bigint)").as("v")))
      val med = ev.groupBy($"event_type")
        .agg(expr("cast(percentile(2 * v, 0.5D) as bigint)").as("med2"),
          count(lit(1)).as("n"))
      val mad = ev.join(broadcast(med), "event_type")
        .withColumn("dev", abs($"v" * 2 - $"med2"))
        .groupBy($"event_type", $"n", $"med2")
        .agg(expr("cast(percentile(2 * dev, 0.5D) as bigint)").as("mad4"))
      ev.join(broadcast(mad), "event_type")
        .withColumn("dev", abs($"v" * 2 - $"med2"))
        .groupBy($"event_type", $"n", $"med2", $"mad4")
        .agg(sum(when($"dev" * 4 > $"mad4" * 3, 1L).otherwise(0L))
          .as("n_outliers"))
        .select($"event_type", $"n", ($"med2" / 2.0).as("med"),
          ($"mad4" / 4.0).as("mad"), $"n_outliers")
        .orderBy($"event_type")
    },

    // Share-of-total / ratio-to-report WITHOUT a global window: nation
    // revenue as exact integer cents, region and grand totals as two
    // tiny re-aggregates broadcast back — no Exchange SinglePartition
    // over the data (the naive sum() OVER () would). Rank within
    // region is a properly partitioned window. The three division
    // readouts are single exact-double ops.
    "q69_share_ratio" -> { (s, dir) =>
      import s.implicits._
      val cents = rd(s, dir, "orders")
        .join(rd(s, dir, "customer"), $"o_custkey" === $"c_custkey")
        .join(broadcast(rd(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .select($"n_regionkey".cast("long").as("region"),
          $"n_name".as("nation"),
          ($"o_totalprice".cast(DecimalType(18, 2)) * 100).cast("long")
            .as("cents"))
        .groupBy($"region", $"nation")
        .agg(sum($"cents").as("nc"))
      val rc = cents.groupBy($"region").agg(sum($"nc").as("rc"))
      val tc = cents.agg(sum($"nc").as("tc"))
      val w = Window.partitionBy($"region").orderBy($"nc".desc, $"nation".asc)
      cents.join(broadcast(rc), "region").crossJoin(broadcast(tc))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .select($"region", $"nation", ($"nc" / 100.0).as("revenue"),
          round($"nc".cast("double") / $"rc", 6).as("share_region"),
          round($"nc".cast("double") / $"tc", 6).as("share_total"),
          $"rnk")
        .orderBy($"region", $"rnk")
    },

    // Dimension as-of enrichment — every event looked up against the
    // SCD2 status history (q41's runs) valid STRICTLY BEFORE the
    // event's own second: the point-in-time dimension join every
    // warehouse event pipeline runs. AsOfJoin's ONE-shuffle merge
    // interleave does the lookup (no theta-join explosion); a user's
    // first-run events read status null (no prior version — surfaced
    // as '(none)', not silently dropped). Output is the
    // (prior_status, event_type) activity matrix.
    "q70_dim_asof_enrich" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000")
      val w = Window.partitionBy($"user_id").orderBy($"sec", $"event_id")
      // consumed as both the fact side and the runs source
      val ev = persist(
        events(s, dir)
          .select($"user_id", $"event_id", $"event_type", secs.as("sec")))
      val runs = ev
        .withColumn("prev_t", lag($"event_type", 1).over(w))
        .withColumn("chg",
          when($"prev_t".isNull || $"prev_t" =!= $"event_type", 1).otherwise(0))
        .withColumn("run_id", sum($"chg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"run_id")
        .agg(min($"event_type").as("status"), min($"sec").as("valid_from"))
      graft.operators.AsOfJoin.latestBefore(ev, runs,
          key = "user_id", leftTime = "sec", rightTime = "valid_from",
          payload = $"status", ord = $"run_id")
        .select($"event_type", coalesce($"asof", lit("(none)")).as("prior_status"))
        .groupBy($"prior_status", $"event_type")
        .agg(count(lit(1)).as("n_events"))
        .orderBy($"prior_status", $"event_type")
    },

    // Telemetry debounce — windowed duplicate suppression: an event is
    // kept iff the previous RAW event of the same (user, type) is more
    // than 300 s older (lag-based debounce — well-defined, one
    // partitioned window, no running state; the chain-suppression
    // variant is the st-side state machines' job). The standard
    // duplicate-beacon screen every event pipeline runs before
    // sessionization. Output: per-type kept/dropped accounting plus
    // the per-type worst offender burst.
    "q71_windowed_dedup" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000")
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"sec", $"event_id")
      events(s, dir)
        .select($"user_id", $"event_id", $"event_type", secs.as("sec"))
        .withColumn("prev_s", lag($"sec", 1).over(w))
        .withColumn("kept",
          when($"prev_s".isNull || $"sec" - $"prev_s" > 300, 1L).otherwise(0L))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_total"),
          sum($"kept").as("n_kept"),
          max(when($"kept" === 0, $"sec" - $"prev_s")).as("tightest_gap_s"))
        .select($"event_type", $"n_total", $"n_kept",
          ($"n_total" - $"n_kept").as("n_dropped"), $"tightest_gap_s")
        .orderBy($"event_type")
    },

    // Per-entity quantile threshold join — "orders above their OWN
    // customer's p90" (personalized anomaly gates, not one global
    // cutoff). The p90 is EXACT and integer-portable: percentile(10·v,
    // 0.9) interpolates as a + 9·(b−a) on ×10-scaled integer cents, so
    // the threshold lands on integers and the strict compare is
    // engine-exact (q68's even-scaling trick generalized to p/q
    // fractions). One per-customer aggregate, one equi-join back on
    // the same key (AQE plans both exchanges together), one segment
    // readout.
    "q72_above_own_p90" -> { (s, dir) =>
      import s.implicits._
      val o = rd(s, dir, "orders")
        .select($"o_custkey",
          ($"o_totalprice".cast(DecimalType(18, 2)) * 100).cast("long")
            .as("cents"))
      val p90 = o.groupBy($"o_custkey")
        .agg(expr("cast(percentile(10 * cents, 0.9D) as bigint)").as("p90_10"))
      o.join(p90, "o_custkey")
        .join(rd(s, dir, "customer"), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(when($"cents" * 10 > $"p90_10", 1L).otherwise(0L))
            .as("n_above"))
        .select($"c_mktsegment", $"n_orders", $"n_above",
          round($"n_above".cast("double") / $"n_orders", 6).as("share_above"))
        .orderBy($"c_mktsegment")
    },

    // Clickstream path mining — top same-session event-type TRIGRAMS
    // (q54's Markov pairs see one step; three-step paths expose the
    // funnel detours a transition matrix marginalizes away). Two leads
    // on the user-keyed window, both gaps session-bounded (≤ 1800 s),
    // one path count aggregate; the rank window runs on the ≤ |types|³
    // path-count frame (125 here — provably tiny by construction).
    "q73_path_trigrams" -> { (s, dir) =>
      import s.implicits._
      val secs = expr("ts div 1000000000")
      val w = Window.partitionBy($"user_id").orderBy($"sec", $"event_id")
      val tri = events(s, dir)
        .select($"user_id", $"event_id", $"event_type", secs.as("sec"))
        .withColumn("t2", lead($"event_type", 1).over(w))
        .withColumn("s2", lead($"sec", 1).over(w))
        .withColumn("t3", lead($"event_type", 2).over(w))
        .withColumn("s3", lead($"sec", 2).over(w))
        .filter($"t3".isNotNull &&
          $"s2" - $"sec" <= 1800 && $"s3" - $"s2" <= 1800)
        .select(concat_ws(">", $"event_type", $"t2", $"t3").as("path"))
        .groupBy($"path").agg(count(lit(1)).as("n"))
      tri.withColumn("rnk", row_number().over(
          Window.orderBy($"n".desc, $"path".asc)).cast("long"))
        .filter($"rnk" <= 20)
        .select($"rnk", $"path", $"n")
        .orderBy($"rnk")
    })

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty,
        |  cast(sum(cast(l_extendedprice as decimal(18,4))) as double) AS sum_base_price,
        |  cast(sum(cast(l_extendedprice * (1.0 - l_discount) as decimal(18,4)))
        |    as double) AS sum_disc_price,
        |  count(*) AS count_order,
        |  count(distinct l_partkey) AS n_parts
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_grid_histogram" ->
      """SELECT cast(floor(l_quantity / 5) as bigint) AS qbin,
        |  cast(floor(l_extendedprice / 5000) as bigint) AS pbin,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY qbin, pbin""".stripMargin,

    "q03_broadcast_join_agg" ->
      """SELECT p_brand,
        |  cast(sum(cast(l_extendedprice * (1.0 - l_discount) as decimal(18,4)))
        |    as double) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q04_theta_band_join" ->
      """SELECT r_name, count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice as decimal(18,4))) as double) AS band_total
        |FROM orders JOIN region
        |  ON o_totalprice >= cast(r_regionkey as double) * 40000
        | AND o_totalprice < cast(r_regionkey + 1 as double) * 40000
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q05_star_join_revenue" ->
      """SELECT n_name,
        |  cast(sum(cast(l_extendedprice * (1.0 - l_discount) as decimal(18,4)))
        |    as double) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q06_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 150000)
        |ORDER BY c_custkey""".stripMargin,

    "q07_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q08_distinct_pairs" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q09_argmax_dedup" ->
      """SELECT l_orderkey, best_part, best_price FROM (
        |  SELECT l_orderkey, l_partkey AS best_part, l_extendedprice AS best_price,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
        |  FROM lineitem) t WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,

    "q10_union_all" ->
      """SELECT bucket, count(*) AS n,
        |  cast(sum(cast(o_totalprice as decimal(18,4))) as double) AS total
        |FROM (
        |  SELECT 'high' AS bucket, o_totalprice FROM orders WHERE o_totalprice >= 200000
        |  UNION ALL
        |  SELECT 'low' AS bucket, o_totalprice FROM orders WHERE o_totalprice < 50000
        |) t GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q11_window_running" ->
      """SELECT o_custkey, o_orderkey, rn, running_total FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER w AS rn,
        |    cast(sum(cast(o_totalprice as decimal(18,4)))
        |      OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS running_total
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q12_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q13_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,

    "q14_string_funcs" ->
      """SELECT p_partkey, upper(substring(p_name, 1, 8)) AS prefix,
        |  length(p_name) AS name_len,
        |  split_part(p_type, ' ', 1) AS type_head,
        |  p_brand || '/' || p_type AS brand_type
        |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin,

    "q15_date_agg" ->
      """SELECT cast(extract(year FROM o_orderdate) as bigint) AS o_year,
        |  cast(extract(month FROM o_orderdate) as bigint) AS o_month,
        |  count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice as decimal(18,4))) as double) AS monthly_total
        |FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month""".stripMargin,

    "q16_case_having" ->
      """SELECT c_nationkey,
        |  cast(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) as bigint) AS n_rich,
        |  count(*) AS n_total
        |FROM customer GROUP BY c_nationkey
        |HAVING count(*) >= 3 ORDER BY c_nationkey""".stripMargin,

    "q17_exists_agg" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q18_scalar_subquery" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |ORDER BY c_custkey""".stripMargin,

    "q19_sessionize" ->
      """SELECT user_id, cast(sum(new_sess) as bigint) AS n_sessions,
        |  count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_s IS NULL OR s - prev_s > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM (
        |    SELECT user_id, event_id, epoch_ms(ts) // 1000 AS s,
        |      lag(epoch_ms(ts) // 1000, 1)
        |        OVER (PARTITION BY user_id
        |              ORDER BY epoch_ms(ts) // 1000, event_id) AS prev_s
        |    FROM events) a
        |) b GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q20_conditional_pivot" ->
      """SELECT user_id,
        |  cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) as bigint) AS n_click,
        |  cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) as bigint) AS n_view,
        |  cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) as bigint) AS n_purchase,
        |  cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) as bigint) AS n_error,
        |  cast(sum(cast(value as decimal(18,4))) as double) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q21_intersect" ->
      """SELECT l_partkey FROM lineitem WHERE l_discount > 0.08
        |INTERSECT
        |SELECT l_partkey FROM lineitem WHERE l_quantity > 40
        |ORDER BY l_partkey""".stripMargin,

    "q22_except" ->
      """SELECT l_partkey FROM lineitem WHERE l_discount > 0.08
        |EXCEPT
        |SELECT l_partkey FROM lineitem WHERE l_quantity > 40
        |ORDER BY l_partkey""".stripMargin,

    "q23_json_extract" ->
      """SELECT event_type, cast(sum(k) as bigint) AS sum_k, count(*) AS n FROM (
        |  SELECT event_type, cast(regexp_extract(props, '[0-9]+', 0) as bigint) AS k
        |  FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q24_salted_join" ->
      """SELECT CASE user_id % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
        |  ELSE 'gamma' END AS label,
        |  count(*) AS n, cast(sum(cast(value as decimal(18,4))) as double) AS total_value
        |FROM events GROUP BY 1 ORDER BY label""".stripMargin,

    "q25_asof_prev_order" ->
      """WITH pr AS (
        |  SELECT l.o_orderkey AS k, r.o_orderkey AS rk, r.o_orderdate AS rd,
        |    row_number() OVER (PARTITION BY l.o_orderkey
        |      ORDER BY r.o_orderdate DESC, r.o_orderkey DESC) AS rn
        |  FROM orders l JOIN orders r
        |    ON r.o_custkey = l.o_custkey AND r.o_orderdate < l.o_orderdate)
        |SELECT o.o_orderkey, p.rk AS prev_orderkey,
        |  date_diff('day', cast(p.rd as date), cast(o.o_orderdate as date)) AS gap_days
        |FROM orders o LEFT JOIN pr p ON p.k = o.o_orderkey AND p.rn = 1
        |ORDER BY o_orderkey""".stripMargin,

    "q26_bloom_probe" ->
      """WITH s AS (SELECT DISTINCT o_custkey AS ck FROM orders
        |  WHERE o_totalprice > 495000.0),
        |i3 AS (SELECT unnest(range(0, 3)) AS i),
        |pos AS (SELECT DISTINCT ((2*i + 1) * ck + i*i + 7) % 512 AS p FROM s, i3),
        |probe AS (SELECT c_custkey, ((2*i + 1) * c_custkey + i*i + 7) % 512 AS q
        |  FROM customer, i3)
        |SELECT c.c_custkey,
        |  (SELECT count(*) FROM probe pr
        |   WHERE pr.c_custkey = c.c_custkey
        |     AND pr.q NOT IN (SELECT p FROM pos)) = 0 AS maybe_member,
        |  EXISTS (SELECT 1 FROM s WHERE s.ck = c.c_custkey) AS exact_member
        |FROM customer c ORDER BY c_custkey""".stripMargin,

    "q27_array_funcs" ->
      """WITH t AS (SELECT l_orderkey,
        |  list_sort(list(cast(l_quantity as bigint))) AS qtys
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  array_to_string(qtys, ',') AS qtys_csv,
        |  cast(len(qtys) as bigint) AS n_items,
        |  qtys[-1] AS max_qty,
        |  list_reduce(qtys, (a, b) -> a + b) AS sum_qty,
        |  cast(len(list_filter(qtys, q -> q >= 25)) as bigint) AS n_large,
        |  array_to_string(list_transform(qtys, q -> q * 2), ',') AS doubled_csv
        |FROM t ORDER BY l_orderkey""".stripMargin,

    "q29_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q30_partition_pruned_scan" ->
      """SELECT event_type, count(*) AS n,
        |  cast(sum(cast(value as decimal(18,4))) as double) AS total_value
        |FROM events WHERE (epoch_ms(ts) // 1000) // 86400 = 19727
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q31_unpivot" ->
      """WITH wide AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase
        |  FROM events GROUP BY user_id)
        |SELECT user_id, metric, cast(n as bigint) AS n FROM (
        |  SELECT user_id, 'click' AS metric, n_click AS n FROM wide
        |  UNION ALL SELECT user_id, 'view', n_view FROM wide
        |  UNION ALL SELECT user_id, 'purchase', n_purchase FROM wide)
        |WHERE n > 0 ORDER BY user_id, metric""".stripMargin,

    "q28_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(cast(l_quantity as bigint), 0.25) AS p25_qty,
        |  quantile_cont(cast(l_quantity as bigint), 0.5) AS median_qty,
        |  quantile_cont(cast(l_quantity as bigint), 0.75) AS p75_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q32_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  cast(coalesce(sum(cast(o_totalprice as decimal(18,4))), 0) as double) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q33_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,

    "q35_kmv_distinct" ->
      """WITH d AS (SELECT event_type,
        |    ((736238393 * (user_id % 1000000007)) + 12345) % 1000000007 AS h FROM events),
        |s AS (SELECT event_type, list_sort(list(DISTINCT h)) AS hs,
        |    count(DISTINCT h) AS nd FROM d GROUP BY event_type),
        |x AS (SELECT event_type, count(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY event_type)
        |SELECT s.event_type AS event_type,
        |  round(CASE WHEN nd < 32 THEN cast(nd as double)
        |        ELSE 31.0 * 1000000007 / hs[32] END, 6) AS est_users,
        |  x.n_users
        |FROM s JOIN x ON x.event_type = s.event_type
        |ORDER BY s.event_type""".stripMargin,

    "q34_decile_spend" ->
      """WITH spend AS (SELECT o_custkey,
        |    sum(cast(o_totalprice as decimal(18,4))) AS spend_dec
        |  FROM orders GROUP BY o_custkey),
        |d AS (SELECT o_custkey, spend_dec, cast(ntile(10) OVER (
        |    ORDER BY spend_dec DESC, o_custkey ASC) as bigint) AS decile FROM spend)
        |SELECT decile, count(*) AS n_customers,
        |  cast(min(spend_dec) as double) AS min_spend,
        |  cast(max(spend_dec) as double) AS max_spend
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,

    "q36_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rflag, lstatus""".stripMargin,

    "q37_rolling_spend" ->
      """SELECT o_orderkey, o_custkey, epoch_day,
        |  cast(sum(cast(o_totalprice as decimal(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch_day
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) as double) AS spend_30d
        |FROM (SELECT o_orderkey, o_custkey, o_totalprice,
        |    datediff('day', DATE '1970-01-01', cast(o_orderdate as date)) AS epoch_day
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q38_global_rank" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(cast(o_totalprice as decimal(18,4))) AS spend_dec
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, cast(spend_dec as double) AS spend,
        |  row_number() OVER (ORDER BY spend_dec DESC, o_custkey ASC) AS spend_rank
        |FROM spend ORDER BY spend_rank""".stripMargin,

    // the naive range self-join over the session intervals — DuckDB's
    // IEJoin handles it directly; the engine's bucketed equi-join must
    // produce the identical pair set
    "q39_interval_overlap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) // 1000 AS s FROM events),
        |o AS (SELECT user_id, event_id, s,
        |    lag(s, 1) OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev_s
        |  FROM e),
        |m AS (SELECT user_id, event_id, s,
        |    CASE WHEN prev_s IS NULL OR s - prev_s > 1800 THEN 1 ELSE 0 END AS ns
        |  FROM o),
        |g AS (SELECT user_id, s, sum(ns) OVER (PARTITION BY user_id
        |    ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM m),
        |iv AS (SELECT user_id, sess, min(s) AS st, max(s) AS en
        |  FROM g GROUP BY 1, 2)
        |SELECT a.user_id AS user_a, b.user_id AS user_b,
        |  cast(a.sess as bigint) AS sess_a, cast(b.sess as bigint) AS sess_b,
        |  least(a.en, b.en) - greatest(a.st, b.st) AS ov_secs
        |FROM iv a JOIN iv b
        |  ON a.st <= b.en AND b.st <= a.en AND a.user_id < b.user_id
        |ORDER BY user_a, user_b, sess_a, sess_b""".stripMargin,

    "q40_funnel" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) // 1000 AS s FROM events),
        |o AS (SELECT user_id, event_id, event_type, s,
        |    lag(s, 1) OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev_s
        |  FROM e),
        |m AS (SELECT user_id, event_id, event_type, s,
        |    CASE WHEN prev_s IS NULL OR s - prev_s > 1800 THEN 1 ELSE 0 END AS ns
        |  FROM o),
        |g AS (SELECT user_id, event_type, s,
        |    sum(ns) OVER (PARTITION BY user_id
        |      ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM m),
        |v AS (SELECT user_id, sess,
        |    min(CASE WHEN event_type = 'view' THEN s END) AS mv
        |  FROM g GROUP BY 1, 2),
        |c AS (SELECT g.user_id, g.sess, min(v.mv) AS mv,
        |    min(CASE WHEN g.event_type = 'click' AND g.s >= v.mv THEN g.s END) AS mc
        |  FROM g JOIN v USING (user_id, sess) GROUP BY 1, 2),
        |p AS (SELECT g.user_id, g.sess, min(c.mv) AS mv, min(c.mc) AS mc,
        |    min(CASE WHEN g.event_type = 'purchase' AND g.s >= c.mc THEN g.s END) AS mp
        |  FROM g JOIN c USING (user_id, sess) GROUP BY 1, 2)
        |SELECT count(*) AS n_sessions,
        |  cast(sum(CASE WHEN mv IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_view,
        |  cast(sum(CASE WHEN mc IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_click,
        |  cast(sum(CASE WHEN mp IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_purchase
        |FROM p""".stripMargin,

    "q41_scd2_history" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) // 1000 AS s FROM events),
        |o AS (SELECT user_id, event_id, event_type, s,
        |    lag(event_type, 1)
        |      OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev_t
        |  FROM e),
        |m AS (SELECT user_id, event_id, event_type, s,
        |    CASE WHEN prev_t IS NULL OR prev_t <> event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM o),
        |g AS (SELECT user_id, event_type, s,
        |    cast(sum(chg) OVER (PARTITION BY user_id
        |      ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) as bigint) AS run_id
        |  FROM m),
        |r AS (SELECT user_id, run_id, min(event_type) AS status,
        |    min(s) AS valid_from, count(*) AS n_events
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, run_id, status, valid_from, n_events,
        |  lead(valid_from, 1)
        |    OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
        |  CASE WHEN lead(valid_from, 1)
        |    OVER (PARTITION BY user_id ORDER BY run_id) IS NULL
        |    THEN 1 ELSE 0 END AS is_current
        |FROM r ORDER BY user_id, run_id""".stripMargin,

    "q44_triangles" ->
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_ms(ts) // 1000 AS s FROM events),
        |o AS (SELECT user_id, event_id, s,
        |    lag(s, 1) OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev_s
        |  FROM e),
        |m AS (SELECT user_id, event_id, s,
        |    CASE WHEN prev_s IS NULL OR s - prev_s > 1800
        |      THEN 1 ELSE 0 END AS ns
        |  FROM o),
        |g AS (SELECT user_id, s,
        |    sum(ns) OVER (PARTITION BY user_id
        |      ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM m),
        |iv AS (SELECT user_id, sess, min(s) AS st, max(s) AS en
        |  FROM g GROUP BY 1, 2),
        |ed AS (SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
        |  FROM iv a JOIN iv b
        |    ON a.st <= b.en AND b.st <= a.en AND a.user_id < b.user_id),
        |tri AS (SELECT e1.ua AS a, e1.ub AS b, e2.ub AS c
        |  FROM ed e1 JOIN ed e2 ON e2.ua = e1.ub
        |    JOIN ed e3 ON e3.ua = e1.ua AND e3.ub = e2.ub),
        |n AS (SELECT a AS user_id FROM tri
        |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |d AS (SELECT u AS user_id, count(*) AS degree FROM
        |    (SELECT ua AS u FROM ed UNION ALL SELECT ub FROM ed)
        |  GROUP BY 1)
        |SELECT n.user_id, d.degree, count(*) AS n_tri
        |FROM n JOIN d ON d.user_id = n.user_id
        |GROUP BY n.user_id, d.degree ORDER BY n.user_id""".stripMargin,

    // q48's edge derivation + unbounded min-label closure: every
    // (node, label) reachable pair, min per node = component minimum
    "q51_graph_components" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_id,
        |    epoch_ms(ts) // 1000 AS s FROM events),
        |o AS (SELECT user_id, event_id, s,
        |    lag(s, 1) OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev_s
        |  FROM e),
        |m AS (SELECT user_id, event_id, s,
        |    CASE WHEN prev_s IS NULL OR s - prev_s > 1800
        |      THEN 1 ELSE 0 END AS ns
        |  FROM o),
        |g AS (SELECT user_id, s,
        |    sum(ns) OVER (PARTITION BY user_id
        |      ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM m),
        |iv AS (SELECT user_id, sess, min(s) AS st, max(s) AS en
        |  FROM g GROUP BY 1, 2),
        |ed AS (SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
        |  FROM iv a JOIN iv b
        |    ON a.st <= b.en AND b.st <= a.en AND a.user_id < b.user_id),
        |sym AS (SELECT ua AS u, ub AS v FROM ed
        |  UNION ALL SELECT ub, ua FROM ed),
        |nodes AS (SELECT DISTINCT user_id AS u FROM events),
        |walk(u, l) AS (
        |  SELECT u, u FROM nodes
        |  UNION
        |  SELECT s2.u, w.l FROM walk w JOIN sym s2 ON s2.v = w.u)
        |SELECT u AS user_id, min(l) AS component FROM walk
        |GROUP BY u ORDER BY user_id""".stripMargin,

    // 3 synchronous LPA rounds over q51's edge derivation: per round a
    // neighbor-label count + the deterministic argmax (cnt desc, lbl
    // asc) via row_number; isolated nodes keep their own label
    "q77_label_propagation" -> {
      val rounds = (1 to 3).map { r =>
        s"""c$r AS (SELECT s2.u, l.lbl, count(*) AS cnt
           |  FROM sym s2 JOIN l${r - 1} l ON l.id = s2.v GROUP BY 1, 2),
           |a$r AS (SELECT u, lbl, row_number() OVER (
           |    PARTITION BY u ORDER BY cnt DESC, lbl ASC) AS rn FROM c$r),
           |l$r AS (SELECT n.id, coalesce(a.lbl, n.id) AS lbl
           |  FROM nodes n LEFT JOIN (SELECT u, lbl FROM a$r WHERE rn = 1) a
           |    ON a.u = n.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id, event_id,
         |    epoch_ms(ts) // 1000 AS s FROM events),
         |o AS (SELECT user_id, event_id, s,
         |    lag(s, 1) OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev_s
         |  FROM e),
         |m AS (SELECT user_id, event_id, s,
         |    CASE WHEN prev_s IS NULL OR s - prev_s > 1800
         |      THEN 1 ELSE 0 END AS ns
         |  FROM o),
         |g AS (SELECT user_id, s,
         |    sum(ns) OVER (PARTITION BY user_id
         |      ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS sess
         |  FROM m),
         |iv AS (SELECT user_id, sess, min(s) AS st, max(s) AS en
         |  FROM g GROUP BY 1, 2),
         |ed AS (SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
         |  FROM iv a JOIN iv b
         |    ON a.st <= b.en AND b.st <= a.en AND a.user_id < b.user_id),
         |sym AS (SELECT ua AS u, ub AS v FROM ed
         |  UNION ALL SELECT ub, ua FROM ed),
         |nodes AS (SELECT DISTINCT user_id AS id FROM events),
         |l0 AS (SELECT id, id AS lbl FROM nodes),
         |$rounds,
         |sz AS (SELECT lbl, count(*) AS community_size FROM l3 GROUP BY 1)
         |SELECT l3.id AS user_id, l3.lbl AS community, sz.community_size
         |FROM l3 JOIN sz USING (lbl) ORDER BY user_id""".stripMargin
    },

    // 168-bucket weekly phase profile: milli-unit integer sums, index
    // as a ratio of two exact-double averages, per-type peak rank
    "q75_seasonality" ->
      """WITH e AS (SELECT event_type,
        |    ((epoch_ms(ts) // 1000) // 3600) % 168 AS how,
        |    cast(floor(value * 1000) as bigint) AS vfp FROM events),
        |h AS (SELECT event_type, how, count(*) AS n,
        |    cast(sum(vfp) as bigint) AS sv FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, cast(sum(n) as bigint) AS nt,
        |    cast(sum(sv) as bigint) AS st FROM h GROUP BY 1)
        |SELECT h.event_type, how, n,
        |  round(cast(sv as double) / (n * 1000.0), 6) AS avg_value,
        |  round((cast(sv as double) / n) / (cast(st as double) / nt), 6)
        |    AS seasonal_index,
        |  cast(row_number() OVER (PARTITION BY h.event_type
        |    ORDER BY cast(sv as double) / n DESC, how) as bigint) AS peak_rnk
        |FROM h JOIN t USING (event_type)
        |ORDER BY event_type, how""".stripMargin,

    // q19's sessions; first/last per session via asc/desc row_number
    // (same (sec, event_id) order the struct min/max encodes)
    "q76_entry_exit" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) // 1000 AS sec FROM events),
        |a AS (SELECT *, lag(sec) OVER
        |    (PARTITION BY user_id ORDER BY sec, event_id) AS prev_s FROM e),
        |b AS (SELECT *, CASE WHEN prev_s IS NULL OR sec - prev_s > 1800
        |    THEN 1 ELSE 0 END AS new_sess FROM a),
        |c AS (SELECT *, sum(new_sess) OVER
        |    (PARTITION BY user_id ORDER BY sec, event_id) AS sid FROM b),
        |d AS (SELECT user_id, sid, event_type,
        |    count(*) OVER (PARTITION BY user_id, sid) AS n,
        |    row_number() OVER (PARTITION BY user_id, sid
        |      ORDER BY sec, event_id) AS rf,
        |    row_number() OVER (PARTITION BY user_id, sid
        |      ORDER BY sec DESC, event_id DESC) AS rl
        |  FROM c),
        |ent AS (SELECT event_type, count(*) AS n_entries,
        |    cast(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) as bigint) AS n_bounces
        |  FROM d WHERE rf = 1 GROUP BY 1),
        |ex AS (SELECT event_type, count(*) AS n_exits
        |  FROM d WHERE rl = 1 GROUP BY 1)
        |SELECT coalesce(ent.event_type, ex.event_type) AS event_type,
        |  coalesce(n_entries, 0) AS n_entries,
        |  coalesce(n_exits, 0) AS n_exits,
        |  coalesce(n_bounces, 0) AS n_bounces
        |FROM ent FULL JOIN ex ON ent.event_type = ex.event_type
        |ORDER BY event_type""".stripMargin,

    // two-source records, deletion-variant blocking, lev<=1 + same
    // nation rule, recursive min-label closure, canonical + size
    "q74_entity_resolution" ->
      """WITH RECURSIVE pc AS (SELECT c_custkey, c_name, c_nationkey,
        |    c_acctbal, len(c_name) AS L FROM customer),
        |recs AS (SELECT cast(c_custkey as bigint) AS id, c_name AS name,
        |    c_nationkey, c_acctbal FROM pc
        |  UNION ALL SELECT c_custkey + 1000000,
        |    CASE WHEN c_custkey % 3 <> 0
        |      THEN substr(c_name, 1, cast(c_custkey % L as int)) ||
        |        substr(c_name, cast(c_custkey % L as int) + 2, L)
        |      ELSE c_name END,
        |    c_nationkey, c_acctbal FROM pc),
        |rv AS (SELECT id, name, c_nationkey, c_acctbal,
        |    unnest(list_distinct([name] ||
        |      list_transform(range(1, len(name) + 1),
        |        i -> substr(name, 1, i - 1) ||
        |          substr(name, i + 1, len(name))))) AS v
        |  FROM recs),
        |ed0 AS (SELECT DISTINCT a.id AS src, b.id AS dst,
        |    a.name AS na, b.name AS nb
        |  FROM rv a JOIN rv b ON b.v = a.v AND a.id < b.id
        |    AND b.c_nationkey = a.c_nationkey
        |    AND b.c_acctbal = a.c_acctbal),
        |ed AS (SELECT src, dst FROM ed0 WHERE levenshtein(na, nb) <= 1),
        |sym AS (SELECT src AS u, dst AS v FROM ed
        |  UNION ALL SELECT dst, src FROM ed),
        |nodes AS (SELECT id AS u FROM recs),
        |walk(u, l) AS (
        |  SELECT u, u FROM nodes
        |  UNION
        |  SELECT s2.u, w.l FROM walk w JOIN sym s2 ON s2.v = w.u),
        |comp AS (SELECT u AS id, min(l) AS canonical FROM walk GROUP BY 1),
        |sz AS (SELECT canonical, cast(count(*) as bigint) AS cluster_size
        |  FROM comp GROUP BY 1)
        |SELECT c.id, c.canonical, s.cluster_size, s.cluster_size > 1 AS matched
        |FROM comp c JOIN sz s USING (canonical) ORDER BY id""".stripMargin,

    // deletion-neighborhood candidates + exact levenshtein verify,
    // replayed with list_transform/unnest
    "q50_fuzzy_join" ->
      """WITH pc AS (SELECT c_custkey, c_name, len(c_name) AS L FROM customer),
        |pr AS (SELECT c_custkey AS probe_key,
        |    substr(c_name, 1, cast(c_custkey % L as int)) ||
        |      substr(c_name, cast(c_custkey % L as int) + 2, L) AS probe
        |  FROM pc WHERE c_custkey % 7 = 0),
        |pv AS (SELECT probe_key, probe,
        |    unnest(list_distinct([probe] ||
        |      list_transform(range(1, len(probe) + 1),
        |        i -> substr(probe, 1, i - 1) ||
        |             substr(probe, i + 1, len(probe))))) AS v
        |  FROM pr),
        |nv AS (SELECT c_custkey, c_name,
        |    unnest(list_distinct([c_name] ||
        |      list_transform(range(1, len(c_name) + 1),
        |        i -> substr(c_name, 1, i - 1) ||
        |             substr(c_name, i + 1, len(c_name))))) AS v
        |  FROM pc),
        |cand AS (SELECT DISTINCT probe_key, probe, c_custkey, c_name
        |  FROM pv JOIN nv USING (v))
        |SELECT probe_key, probe, c_custkey, c_name,
        |  cast(levenshtein(probe, c_name) as bigint) AS dist
        |FROM cand WHERE levenshtein(probe, c_name) <= 1
        |ORDER BY probe_key, c_custkey""".stripMargin,

    "q49_kdist_eps" ->
      """WITH pts AS (SELECT event_id, "value" AS x,
        |    ((epoch_ms(ts) // 1000) - 1704067200) / 3600.0 AS y
        |  FROM events),
        |probes AS (SELECT event_id AS q_id, x AS qx, y AS qy FROM pts
        |  ORDER BY (3 * (event_id % 1000000007) + 8) % 1000000007, event_id
        |  LIMIT 256),
        |kd AS (SELECT q_id, round(sqrt(d2), 6) AS kdist FROM (
        |    SELECT p.q_id,
        |      (t.x - p.qx) * (t.x - p.qx) + (t.y - p.qy) * (t.y - p.qy) AS d2,
        |      row_number() OVER (PARTITION BY p.q_id ORDER BY
        |        (t.x - p.qx) * (t.x - p.qx) + (t.y - p.qy) * (t.y - p.qy),
        |        t.event_id) AS rn
        |    FROM pts t JOIN probes p ON t.event_id <> p.q_id) a
        |  WHERE rn = 4),
        |d AS (SELECT q_id, kdist,
        |    ntile(10) OVER (ORDER BY kdist, q_id) AS decile FROM kd)
        |SELECT decile, count(*) AS n, max(kdist) AS kdist_max
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,

    "q48_khop_reach" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_id,
        |    epoch_ms(ts) // 1000 AS s FROM events),
        |o AS (SELECT user_id, event_id, s,
        |    lag(s, 1) OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev_s
        |  FROM e),
        |m AS (SELECT user_id, event_id, s,
        |    CASE WHEN prev_s IS NULL OR s - prev_s > 1800
        |      THEN 1 ELSE 0 END AS ns
        |  FROM o),
        |g AS (SELECT user_id, s,
        |    sum(ns) OVER (PARTITION BY user_id
        |      ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM m),
        |iv AS (SELECT user_id, sess, min(s) AS st, max(s) AS en
        |  FROM g GROUP BY 1, 2),
        |ed AS (SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
        |  FROM iv a JOIN iv b
        |    ON a.st <= b.en AND b.st <= a.en AND a.user_id < b.user_id),
        |sym AS (SELECT ua AS u, ub AS v FROM ed
        |  UNION ALL SELECT ub, ua FROM ed),
        |walk(u, hops) AS (
        |  SELECT u, cast(0 as bigint) AS hops
        |  FROM (SELECT DISTINCT u FROM sym) n WHERE u % 50 = 0
        |  UNION
        |  SELECT s2.v, w.hops + 1 FROM walk w
        |  JOIN sym s2 ON s2.u = w.u WHERE w.hops < 3)
        |SELECT u AS user_id, min(hops) AS hops FROM walk
        |GROUP BY u ORDER BY user_id""".stripMargin,

    "q42_zorder_tiles" ->
      """WITH e AS (SELECT cast(floor("value" * 2) as bigint) AS xc,
        |    ((epoch_ms(ts) // 1000) - 1704067200) // 3600 AS yc
        |  FROM events),
        |s1 AS (SELECT xc, yc,
        |    (xc | (xc << 8)) & 16711935 AS ax,
        |    (yc | (yc << 8)) & 16711935 AS ay FROM e),
        |s2 AS (SELECT xc, yc,
        |    (ax | (ax << 4)) & 252645135 AS mx,
        |    (ay | (ay << 4)) & 252645135 AS my FROM s1),
        |s3 AS (SELECT xc, yc,
        |    (mx | (mx << 2)) & 858993459 AS cx,
        |    (my | (my << 2)) & 858993459 AS cy FROM s2),
        |s4 AS (SELECT xc, yc,
        |    (cx | (cx << 1)) & 1431655765 AS dx,
        |    (cy | (cy << 1)) & 1431655765 AS dy FROM s3),
        |zz AS (SELECT xc, yc, dx | (dy << 1) AS z FROM s4)
        |SELECT z // 256 AS tile, count(*) AS n,
        |  min(xc) AS x_min, max(xc) AS x_max,
        |  min(yc) AS y_min, max(yc) AS y_max
        |FROM zz GROUP BY 1 ORDER BY tile""".stripMargin,

    "q45_approx_quantiles" ->
      Seq(0.25, 0.5, 0.75, 0.95).map(f =>
        s"""SELECT l_returnflag AS flag, cast($f as double) AS frac,
           |  quantile_cont(cast(floor(l_extendedprice) as bigint), $f) AS exact_v,
           |  true AS within_bound FROM lineitem GROUP BY 1""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY flag, frac"),

    "q46_merge_upsert" ->
      """WITH e AS (
        |  SELECT user_id * 31 AS mk, event_id, event_type,
        |    epoch_ms(ts) // 1000 AS s
        |  FROM events),
        |agg AS (SELECT mk, count(*) AS n_events FROM e GROUP BY mk),
        |last AS (
        |  SELECT mk, event_type AS last_type, s AS last_seen_s FROM (
        |    SELECT mk, event_type, s, row_number() OVER (
        |      PARTITION BY mk ORDER BY s DESC, event_id DESC) AS rn
        |    FROM e) r WHERE rn = 1),
        |ch AS (
        |  SELECT agg.mk, agg.n_events, last.last_type, last.last_seen_s
        |  FROM agg JOIN last USING (mk))
        |SELECT coalesce(c.c_custkey, ch.mk) AS merge_key,
        |  CASE WHEN c.c_custkey IS NOT NULL AND ch.mk IS NOT NULL THEN 'update'
        |       WHEN c.c_custkey IS NULL THEN 'insert'
        |       ELSE 'keep' END AS action,
        |  c.c_name, c.c_mktsegment, ch.last_type, ch.last_seen_s,
        |  coalesce(ch.n_events, 0) AS n_events
        |FROM customer c FULL OUTER JOIN ch ON ch.mk = c.c_custkey
        |ORDER BY merge_key""".stripMargin,

    "q47_retention_cohorts" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, (epoch_ms(ts) // 1000) // 604800 AS week
        |  FROM events),
        |cohort AS (
        |  SELECT user_id, min((epoch_ms(ts) // 1000) // 604800) AS cw
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |ret AS (
        |  SELECT c.cw AS cohort_week, a.week - c.cw AS offset_weeks,
        |    count(*) AS n_active
        |  FROM act a JOIN cohort c USING (user_id)
        |  WHERE a.week >= c.cw
        |  GROUP BY 1, 2),
        |sizes AS (
        |  SELECT cohort_week, n_active AS cohort_size FROM ret
        |  WHERE offset_weeks = 0)
        |SELECT r.cohort_week, r.offset_weeks, r.n_active, s.cohort_size,
        |  round(cast(r.n_active as double) / s.cohort_size, 6) AS retention
        |FROM ret r JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, offset_weeks""".stripMargin,

    "q43_data_audit" ->
      """WITH m AS (SELECT count(*) AS n_rows, count(o_custkey) AS nn_cust,
        |    count(DISTINCT o_orderkey) AS uniq_key,
        |    cast(sum(CASE WHEN o_totalprice > 0 AND o_totalprice <= 600000
        |      THEN 1 ELSE 0 END) as bigint) AS price_ok,
        |    cast(sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
        |      THEN 1 ELSE 0 END) as bigint) AS status_ok,
        |    cast(sum(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
        |      AND o_orderdate < TIMESTAMP '2010-01-01'
        |      THEN 1 ELSE 0 END) as bigint) AS date_ok
        |  FROM orders),
        |u AS (
        |  SELECT 'row_count' AS check_name, n_rows AS observed, n_rows AS total FROM m
        |  UNION ALL SELECT 'completeness_custkey', nn_cust, n_rows FROM m
        |  UNION ALL SELECT 'unique_orderkey', uniq_key, n_rows FROM m
        |  UNION ALL SELECT 'range_totalprice', price_ok, n_rows FROM m
        |  UNION ALL SELECT 'domain_status', status_ok, n_rows FROM m
        |  UNION ALL SELECT 'domain_orderdate', date_ok, n_rows FROM m)
        |SELECT check_name, observed, total,
        |  CASE WHEN observed = total THEN 1 ELSE 0 END AS pass
        |FROM u ORDER BY check_name""".stripMargin,

    // 3-way dominance spelled directly, string dim lexicographic
    "q55_skyline3d" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice,
        |    datediff('day', DATE '1970-01-01', cast(o_orderdate as date))
        |      AS epoch_day, o_orderpriority
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice, epoch_day, o_orderpriority
        |FROM o r
        |WHERE NOT EXISTS (SELECT 1 FROM o s
        |  WHERE s.o_totalprice >= r.o_totalprice
        |    AND s.epoch_day <= r.epoch_day
        |    AND s.o_orderpriority <= r.o_orderpriority
        |    AND (s.o_totalprice > r.o_totalprice
        |      OR s.epoch_day < r.epoch_day
        |      OR s.o_orderpriority < r.o_orderpriority))
        |ORDER BY o_orderkey""".stripMargin,

    // distinct-parts baskets, pair counts via the a < b self-join
    // (the oracle can afford it at sf0.01), jaccard from exact counts
    "q56_frequent_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    count(*) AS n_pairs
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |i AS (SELECT l_partkey, count(*) AS n FROM li GROUP BY 1)
        |SELECT p.part_a, p.part_b, p.n_pairs,
        |  ia.n AS n_a, ib.n AS n_b,
        |  round(cast(p.n_pairs as double) / (ia.n + ib.n - p.n_pairs), 6)
        |    AS jaccard
        |FROM p
        |JOIN i ia ON ia.l_partkey = p.part_a
        |JOIN i ib ON ib.l_partkey = p.part_b
        |ORDER BY p.n_pairs DESC, p.part_a, p.part_b LIMIT 50""".stripMargin,

    // same-session consecutive pairs via lead, exact counts, one
    // rounded division for the row probability
    "q54_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) // 1000 AS sec FROM events),
        |p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER w AS to_type,
        |    lead(sec) OVER w - sec AS gap
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        |tr AS (SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE to_type IS NOT NULL AND gap <= 1800 GROUP BY 1, 2),
        |t AS (SELECT from_type, cast(sum(n) as bigint) AS n_from
        |  FROM tr GROUP BY 1)
        |SELECT tr.from_type, tr.to_type, tr.n, t.n_from,
        |  round(cast(tr.n as double) / t.n_from, 6) AS prob
        |FROM tr JOIN t ON t.from_type = tr.from_type
        |ORDER BY tr.from_type, tr.to_type""".stripMargin,

    // one aggregate scan, unpivoted to per-column stat rows; NDVs
    // exact, numeric min/max as double, string extremes untouched;
    // the ndv_hll rider replays the per-column portable-hash HLL
    // (p=10) with t30's register/readout spelling
    "q53_column_stats" ->
      """WITH o AS (SELECT *, datediff('day', DATE '1970-01-01',
        |    cast(o_orderdate as date)) AS epoch_day FROM orders),
        |m AS (SELECT count(*) AS n,
        |    count(o_orderkey) AS nn_key, count(DISTINCT o_orderkey) AS ndv_key,
        |    cast(min(o_orderkey) as double) AS min_key,
        |    cast(max(o_orderkey) as double) AS max_key,
        |    count(o_custkey) AS nn_cust, count(DISTINCT o_custkey) AS ndv_cust,
        |    cast(min(o_custkey) as double) AS min_cust,
        |    cast(max(o_custkey) as double) AS max_cust,
        |    count(o_totalprice) AS nn_price, count(DISTINCT o_totalprice) AS ndv_price,
        |    min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |    count(epoch_day) AS nn_day, count(DISTINCT epoch_day) AS ndv_day,
        |    cast(min(epoch_day) as double) AS min_day,
        |    cast(max(epoch_day) as double) AS max_day,
        |    count(o_orderstatus) AS nn_st, count(DISTINCT o_orderstatus) AS ndv_st,
        |    min(o_orderstatus) AS min_st, max(o_orderstatus) AS max_st
        |  FROM o),
        |u AS (
        |  SELECT 'o_custkey' AS col_name, n AS n_rows, n - nn_cust AS n_null,
        |    ndv_cust AS ndv, min_cust AS min_v, max_cust AS max_v,
        |    cast(NULL as varchar) AS min_s, cast(NULL as varchar) AS max_s FROM m
        |  UNION ALL SELECT 'o_orderdate_day', n, n - nn_day, ndv_day,
        |    min_day, max_day, NULL, NULL FROM m
        |  UNION ALL SELECT 'o_orderkey', n, n - nn_key, ndv_key,
        |    min_key, max_key, NULL, NULL FROM m
        |  UNION ALL SELECT 'o_orderstatus', n, n - nn_st, ndv_st,
        |    NULL, NULL, min_st, max_st FROM m
        |  UNION ALL SELECT 'o_totalprice', n, n - nn_price, ndv_price,
        |    min_price, max_price, NULL, NULL FROM m),
        |hp AS (SELECT col_name, h FROM (
        |  SELECT 'o_orderkey' AS col_name,
        |    (1 * (o_orderkey % 1073741824) + 7) % 1073741824 AS h FROM o
        |  UNION ALL SELECT 'o_custkey',
        |    (3 * (o_custkey % 1073741824) + 8) % 1073741824 FROM o
        |  UNION ALL SELECT 'o_orderdate_day',
        |    (5 * (epoch_day % 1073741824) + 11) % 1073741824 FROM o
        |  UNION ALL SELECT 'o_totalprice',
        |    (7 * (cast(floor(o_totalprice * 100 + 0.5) as bigint)
        |      % 1073741824) + 16) % 1073741824 FROM o
        |  UNION ALL SELECT 'o_orderstatus',
        |    (9 * (ascii(o_orderstatus) % 1073741824) + 23) % 1073741824
        |    FROM o) t WHERE h IS NOT NULL),
        |r0 AS (SELECT col_name, h % 1024 AS bucket, h // 1024 AS w FROM hp),
        |r1 AS (SELECT col_name, bucket,
        |    max(CASE WHEN w = 0 THEN 21 ELSE 21 - length(bin(w)) END) AS rho
        |  FROM r0 GROUP BY 1, 2),
        |sm AS (SELECT col_name, count(*) AS present,
        |    cast(sum(cast((1::BIGINT << (21 - rho)) as bigint)) as bigint)
        |      AS num_present FROM r1 GROUP BY 1),
        |hn AS (SELECT col_name,
        |    num_present + (1024 - present) * 2097152 AS num FROM sm),
        |est AS (SELECT col_name,
        |    round(cast(0.7213 as double) / (cast(1.0 as double)
        |      + cast(1.079 as double) / cast(1024 as double))
        |      * cast(1024 as double) * cast(1024 as double)
        |      * cast(2097152 as double) / cast(num as double), 6)
        |      AS ndv_hll FROM hn)
        |SELECT u.col_name, n_rows, n_null, ndv, e.ndv_hll,
        |  round(abs(e.ndv_hll - cast(ndv as double))
        |    / cast(ndv as double), 6) AS hll_err,
        |  min_v, max_v, min_s, max_s
        |FROM u LEFT JOIN est e ON e.col_name = u.col_name
        |ORDER BY u.col_name""".stripMargin,

    // dominance spelled directly: the engine's two-phase sweep must
    // reproduce the NOT EXISTS row set exactly (comparisons only, no
    // float arithmetic to drift)
    "q52_skyline" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice,
        |    datediff('day', DATE '1970-01-01', cast(o_orderdate as date))
        |      AS epoch_day
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice, epoch_day FROM o r
        |WHERE NOT EXISTS (SELECT 1 FROM o s
        |  WHERE s.o_totalprice >= r.o_totalprice
        |    AND s.epoch_day <= r.epoch_day
        |    AND (s.o_totalprice > r.o_totalprice
        |      OR s.epoch_day < r.epoch_day))
        |ORDER BY o_orderkey""".stripMargin,

    "q57_gapfill_series" ->
      """WITH c AS (SELECT (epoch_ms(ts) // 1000) // 3600 AS hour,
        |    event_type, count(*) AS n FROM events GROUP BY 1, 2),
        |b AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM c),
        |cal AS (SELECT unnest(generate_series(h0, h1)) AS hour FROM b),
        |ty AS (SELECT DISTINCT event_type FROM c),
        |g AS (SELECT ty.event_type, cal.hour, coalesce(c.n, 0) AS n
        |  FROM cal CROSS JOIN ty
        |  LEFT JOIN c ON c.hour = cal.hour AND c.event_type = ty.event_type)
        |SELECT event_type, hour, cast(n as bigint) AS n,
        |  cast(sum(n) OVER (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) as bigint) AS n_3h
        |FROM g ORDER BY event_type, hour""".stripMargin,

    "q58_decay_score" ->
      """WITH e AS (SELECT user_id,
        |    (epoch_ms(ts) // 1000) // 3600 AS h,
        |    CASE event_type WHEN 'purchase' THEN 16 WHEN 'click' THEN 4
        |      WHEN 'view' THEN 2 WHEN 'error' THEN 0 ELSE 1 END AS w
        |  FROM events),
        |r AS (SELECT max(h) AS rh FROM e)
        |SELECT user_id,
        |  cast(sum(CASE WHEN rh - h <= 30
        |    THEN w * (1::BIGINT << cast(30 - (rh - h) as int)) ELSE 0 END)
        |    as bigint) AS score_fp,
        |  cast(sum(CASE WHEN rh - h <= 30 THEN 1 ELSE 0 END) as bigint)
        |    AS n_recent,
        |  count(*) AS n_events,
        |  cast(cast(sum(CASE WHEN rh - h <= 30
        |    THEN w * (1::BIGINT << cast(30 - (rh - h) as int)) ELSE 0 END)
        |    as bigint) as double) / 1073741824.0 AS score
        |FROM e CROSS JOIN r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q59_waiting_supplier" ->
      """WITH j AS (SELECT l_orderkey,  l_suppkey,
        |    CASE WHEN datediff('day', cast(o_orderdate as date),
        |        cast(l_shipdate as date)) > 60
        |      THEN l_suppkey END AS late_supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |p AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT late_supp) AS n_late_supp,
        |    max(late_supp) AS the_late_supp
        |  FROM j GROUP BY 1)
        |SELECT the_late_supp AS s_suppkey, s_name, count(*) AS n_waiting
        |FROM p JOIN supplier ON s_suppkey = the_late_supp
        |WHERE n_supp >= 2 AND n_late_supp = 1
        |GROUP BY 1, 2
        |ORDER BY n_waiting DESC, s_suppkey LIMIT 20""".stripMargin,

    "q60_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |    epoch_ms(ts) // 1000 AS s FROM events),
        |a AS (SELECT user_id, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY s, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr
        |  FROM e)
        |SELECT coalesce(attr, 'none') AS attr_type, count(*) AS n_purchases,
        |  cast(sum(cast(value as decimal(18,4))) as double) AS total_value
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY attr_type""".stripMargin,

    // the Bloom pre-filter has no false negatives and the exact join
    // removes false positives => result == the plain join
    "q61_bloom_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice as decimal(18,4))) as double)
        |    AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 9000
        |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,

    "q62_aqp_estimate" -> {
      val h = graft.operators.Mixture.portableHashSql(
        "(l_orderkey*10 + l_linenumber)", 5)
      s"""WITH s AS (SELECT count(*) AS n_sample,
         |    cast(sum(cast(l_extendedprice as decimal(18,4))) * 16 as double)
         |      AS est_revenue
         |  FROM lineitem WHERE ($h) % 16 = 0),
         |x AS (SELECT count(*) AS n_total,
         |    cast(sum(cast(l_extendedprice as decimal(18,4))) as double)
         |      AS exact_revenue
         |  FROM lineitem)
         |SELECT n_total, n_sample, exact_revenue, est_revenue,
         |  round(abs(est_revenue - exact_revenue) / exact_revenue, 6)
         |    AS rel_err
         |FROM s, x""".stripMargin
    },

    "q63_trend" ->
      """WITH daily AS (SELECT (epoch_ms(ts) // 1000) // 86400 AS day,
        |    event_type, count(*) AS y FROM events GROUP BY 1, 2),
        |r AS (SELECT min(day) AS d0 FROM daily),
        |m AS (SELECT event_type, count(*) AS n_days,
        |    cast(sum(day - d0) as bigint) AS sx,
        |    cast(sum((day - d0) * (day - d0)) as bigint) AS sxx,
        |    cast(sum(y) as bigint) AS sy,
        |    cast(sum((day - d0) * y) as bigint) AS sxy
        |  FROM daily CROSS JOIN r GROUP BY event_type)
        |SELECT event_type, n_days, sy AS n_events,
        |  round(cast(n_days * sxy - sx * sy as double)
        |    / cast(NULLIF(n_days * sxx - sx * sx, 0) as double), 6) AS slope,
        |  round(cast(sy * (n_days * sxx - sx * sx)
        |      - (n_days * sxy - sx * sy) * sx as double)
        |    / cast(NULLIF(n_days * (n_days * sxx - sx * sx), 0) as double), 6)
        |    AS intercept
        |FROM m ORDER BY event_type""".stripMargin,

    "q64_peak_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) // 1000 AS s
        |  FROM events),
        |o AS (SELECT user_id, event_id, s,
        |    lag(s, 1) OVER (PARTITION BY user_id ORDER BY s, event_id)
        |      AS prev_s FROM e),
        |g AS (SELECT user_id, s,
        |    sum(CASE WHEN prev_s IS NULL OR s - prev_s > 1800
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY s, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sess
        |  FROM o),
        |iv AS (SELECT user_id, sess, min(s) AS st, max(s) AS en
        |  FROM g GROUP BY 1, 2),
        |d AS (SELECT st AS t, 1 AS delta, user_id, sess FROM iv
        |  UNION ALL SELECT en + 1, -1, user_id, sess FROM iv),
        |c AS (SELECT t, sum(delta)
        |    OVER (ORDER BY t, delta ASC, user_id, sess
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS conc FROM d),
        |n AS (SELECT count(*) AS n_sessions FROM iv)
        |SELECT t AS at_sec, cast(conc as bigint) AS peak_concurrency,
        |  n_sessions
        |FROM c, n ORDER BY conc DESC, t ASC LIMIT 1""".stripMargin,

    "q65_ab_test" -> {
      val h = graft.operators.Mixture.portableHashSql("user_id", 9)
      s"""WITH per AS (SELECT user_id,
         |    cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      as bigint) AS x
         |  FROM events GROUP BY 1),
         |armed AS (SELECT x,
         |    CASE WHEN ($h) % 2 = 0 THEN 'A' ELSE 'B' END AS arm FROM per),
         |m AS (SELECT arm, count(*) AS n, cast(sum(x) as bigint) AS sx,
         |    cast(sum(x * x) as bigint) AS sxx FROM armed GROUP BY arm),
         |w AS (SELECT
         |    max(CASE WHEN arm = 'A' THEN n END) AS n_a,
         |    max(CASE WHEN arm = 'B' THEN n END) AS n_b,
         |    max(CASE WHEN arm = 'A' THEN sx END) AS sx_a,
         |    max(CASE WHEN arm = 'B' THEN sx END) AS sx_b,
         |    max(CASE WHEN arm = 'A' THEN sxx END) AS sxx_a,
         |    max(CASE WHEN arm = 'B' THEN sxx END) AS sxx_b
         |  FROM m),
         |v AS (SELECT n_a, n_b,
         |    cast(sx_a as double) / n_a AS mean_a,
         |    cast(sx_b as double) / n_b AS mean_b,
         |    cast(n_a * sxx_a - sx_a * sx_a as double)
         |      / cast(NULLIF(n_a * (n_a - 1), 0) as double) AS var_a,
         |    cast(n_b * sxx_b - sx_b * sx_b as double)
         |      / cast(NULLIF(n_b * (n_b - 1), 0) as double) AS var_b
         |  FROM w),
         |v2 AS (SELECT *, var_a / n_a + var_b / n_b AS se2 FROM v)
         |SELECT n_a, n_b, round(mean_a, 6) AS mean_a,
         |  round(mean_b, 6) AS mean_b, round(var_a, 6) AS var_a,
         |  round(var_b, 6) AS var_b,
         |  round(CASE WHEN se2 > 0
         |    THEN (mean_a - mean_b) / sqrt(se2) END, 6) AS t_stat
         |FROM v2""".stripMargin
    },

    "q66_prorated_revenue" ->
      """WITH li AS (SELECT
        |    cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)
        |      AS cents,
        |    least(greatest(datediff('day', cast(o_orderdate as date),
        |      cast(l_shipdate as date)) + 1, 1), 90) AS nd,
        |    datediff('day', DATE '1970-01-01', cast(o_orderdate as date))
        |      AS e0
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'),
        |x AS (SELECT e0 + i AS epoch_day,
        |    cents // nd + (CASE WHEN i < cents % nd THEN 1 ELSE 0 END) AS amt
        |  FROM (SELECT cents, nd, e0, unnest(range(0, nd)) AS i FROM li))
        |SELECT epoch_day, count(*) AS n_alloc,
        |  cast(sum(amt) as bigint) AS revenue_cents,
        |  cast(sum(amt) as bigint) / 100.0 AS revenue
        |FROM x GROUP BY 1 ORDER BY epoch_day""".stripMargin,

    // t31's HLL replay rolled up: registers built once at (region,
    // nation) grain, region/all levels derived by bucketwise max —
    // the merge IS the estimate's correctness, replayed per level
    "q67_sketch_rollup" -> {
      val est =
        """cast(0.7213 as double) / (cast(1.0 as double)
          |  + cast(1.079 as double) / cast(256 as double))
          |  * cast(256 as double) * cast(256 as double)
          |  * cast(8388608 as double) / cast(num as double)""".stripMargin
      s"""WITH base AS (SELECT cast(n.n_regionkey as bigint) AS region,
         |    n.n_name AS nation,
         |    ((736238393 * (o.o_custkey % 1000000007) + 12345)
         |      % 1000000007) % 1073741824 AS h
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
         |fine AS (SELECT region, nation, bucket, max(rho) AS rho FROM (
         |    SELECT region, nation, h % 256 AS bucket,
         |      CASE WHEN h // 256 = 0 THEN 23
         |           ELSE 23 - length(bin(h // 256)) END AS rho
         |    FROM base) t GROUP BY 1, 2, 3),
         |natr AS (SELECT region, nation, count(*) AS present,
         |    cast(sum(cast((1::BIGINT << (23 - rho)) as bigint)) as bigint)
         |      AS num_present
         |  FROM fine GROUP BY 1, 2),
         |natx AS (SELECT region, nation, count(DISTINCT h) AS n_exact
         |  FROM base GROUP BY 1, 2),
         |regr AS (SELECT region, count(*) AS present,
         |    cast(sum(cast((1::BIGINT << (23 - rho)) as bigint)) as bigint)
         |      AS num_present
         |  FROM (SELECT region, bucket, max(rho) AS rho FROM fine
         |        GROUP BY 1, 2) t GROUP BY 1),
         |regx AS (SELECT region, count(DISTINCT h) AS n_exact
         |  FROM base GROUP BY 1),
         |allr AS (SELECT count(*) AS present,
         |    cast(sum(cast((1::BIGINT << (23 - rho)) as bigint)) as bigint)
         |      AS num_present
         |  FROM (SELECT bucket, max(rho) AS rho FROM fine GROUP BY 1) t),
         |allx AS (SELECT count(DISTINCT h) AS n_exact FROM base),
         |u AS (
         |  SELECT 'nation' AS level, r.region, r.nation,
         |    256 - r.present AS v_zero, x.n_exact,
         |    r.num_present + (256 - r.present) * 8388608 AS num
         |  FROM natr r JOIN natx x USING (region, nation)
         |  UNION ALL
         |  SELECT 'region', r.region, NULL,
         |    256 - r.present, x.n_exact,
         |    r.num_present + (256 - r.present) * 8388608
         |  FROM regr r JOIN regx x USING (region)
         |  UNION ALL
         |  SELECT 'all', -1, NULL,
         |    256 - r.present, x.n_exact,
         |    r.num_present + (256 - r.present) * 8388608
         |  FROM allr r, allx x)
         |SELECT level, region, nation, cast(v_zero as bigint) AS v_zero,
         |  cast(n_exact as bigint) AS n_exact, round($est, 6) AS est
         |FROM u ORDER BY level, region, nation""".stripMargin
    },

    // even-scaled exact medians (quantile_cont on 2v / 2·dev lands on
    // integers) + the cross-multiplied 3-MAD integer test
    "q68_mad_outliers" ->
      """WITH ev AS (SELECT event_type,
        |    cast(floor(value) as bigint) AS v FROM events),
        |med AS (SELECT event_type,
        |    cast(quantile_cont(2 * v, 0.5) as bigint) AS med2,
        |    count(*) AS n
        |  FROM ev GROUP BY 1),
        |mad AS (SELECT ev.event_type, med.n, med.med2,
        |    cast(quantile_cont(2 * abs(ev.v * 2 - med.med2), 0.5) as bigint)
        |      AS mad4
        |  FROM ev JOIN med USING (event_type) GROUP BY 1, 2, 3)
        |SELECT ev.event_type, mad.n,
        |  mad.med2 / 2.0 AS med, mad.mad4 / 4.0 AS mad,
        |  cast(sum(CASE WHEN abs(ev.v * 2 - mad.med2) * 4 > mad.mad4 * 3
        |    THEN 1 ELSE 0 END) as bigint) AS n_outliers
        |FROM ev JOIN mad USING (event_type)
        |GROUP BY 1, 2, 3, 4 ORDER BY event_type""".stripMargin,

    "q69_share_ratio" ->
      """WITH nc AS (SELECT cast(n.n_regionkey as bigint) AS region,
        |    n.n_name AS nation,
        |    cast(sum(cast(cast(o.o_totalprice as decimal(18,2)) * 100
        |      as bigint)) as bigint) AS nc
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2),
        |rc AS (SELECT region, cast(sum(nc) as bigint) AS rc FROM nc GROUP BY 1),
        |tc AS (SELECT cast(sum(nc) as bigint) AS tc FROM nc)
        |SELECT nc.region, nc.nation, nc.nc / 100.0 AS revenue,
        |  round(cast(nc.nc as double) / rc.rc, 6) AS share_region,
        |  round(cast(nc.nc as double) / tc.tc, 6) AS share_total,
        |  cast(row_number() OVER (PARTITION BY nc.region
        |    ORDER BY nc.nc DESC, nc.nation ASC) as bigint) AS rnk
        |FROM nc JOIN rc USING (region), tc
        |ORDER BY region, rnk""".stripMargin,

    // q41's runs + latest version STRICTLY before each event's second
    // (argmax valid_from, then run_id); first-run events read '(none)'
    "q70_dim_asof_enrich" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) // 1000 AS s FROM events),
        |o AS (SELECT user_id, event_id, event_type, s,
        |    lag(event_type, 1)
        |      OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev_t
        |  FROM e),
        |g AS (SELECT user_id, event_type, s,
        |    cast(sum(CASE WHEN prev_t IS NULL OR prev_t <> event_type
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id
        |        ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) as bigint)
        |      AS run_id
        |  FROM o),
        |r AS (SELECT user_id, run_id, min(event_type) AS status,
        |    min(s) AS valid_from FROM g GROUP BY 1, 2),
        |x AS (SELECT e.event_id, e.event_type, st.status FROM e
        |  LEFT JOIN (
        |    SELECT ee.event_id, rr.status, row_number() OVER (
        |        PARTITION BY ee.event_id
        |        ORDER BY rr.valid_from DESC, rr.run_id DESC) AS rn
        |    FROM e ee JOIN r rr ON rr.user_id = ee.user_id
        |      AND rr.valid_from < ee.s) st
        |    ON st.event_id = e.event_id AND st.rn = 1)
        |SELECT coalesce(status, '(none)') AS prior_status, event_type,
        |  count(*) AS n_events
        |FROM x GROUP BY 1, 2 ORDER BY prior_status, event_type""".stripMargin,

    "q71_windowed_dedup" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) // 1000 AS s FROM events),
        |o AS (SELECT event_type, s,
        |    lag(s, 1) OVER (PARTITION BY user_id, event_type
        |      ORDER BY s, event_id) AS prev_s
        |  FROM e),
        |k AS (SELECT event_type, s, prev_s,
        |    CASE WHEN prev_s IS NULL OR s - prev_s > 300
        |      THEN 1 ELSE 0 END AS kept
        |  FROM o)
        |SELECT event_type, count(*) AS n_total,
        |  cast(sum(kept) as bigint) AS n_kept,
        |  count(*) - cast(sum(kept) as bigint) AS n_dropped,
        |  max(CASE WHEN kept = 0 THEN s - prev_s END) AS tightest_gap_s
        |FROM k GROUP BY 1 ORDER BY event_type""".stripMargin,

    // exact per-customer p90 on x10-scaled integer cents (interpolation
    // a + 9(b-a) lands on integers), strict integer compare
    "q72_above_own_p90" ->
      """WITH o AS (SELECT o_custkey,
        |    cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)
        |      AS cents
        |  FROM orders),
        |p AS (SELECT o_custkey,
        |    cast(quantile_cont(10 * cents, 0.9) as bigint) AS p90_10
        |  FROM o GROUP BY 1)
        |SELECT c.c_mktsegment, count(*) AS n_orders,
        |  cast(sum(CASE WHEN o.cents * 10 > p.p90_10 THEN 1 ELSE 0 END)
        |    as bigint) AS n_above,
        |  round(cast(sum(CASE WHEN o.cents * 10 > p.p90_10
        |      THEN 1 ELSE 0 END) as double) / count(*), 6) AS share_above
        |FROM o JOIN p USING (o_custkey)
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    "q73_path_trigrams" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) // 1000 AS s FROM events),
        |o AS (SELECT event_type AS t1, s,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(s, 1) OVER w AS s2,
        |    lead(event_type, 2) OVER w AS t3,
        |    lead(s, 2) OVER w AS s3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
        |p AS (SELECT t1 || '>' || t2 || '>' || t3 AS path, count(*) AS n
        |  FROM o WHERE t3 IS NOT NULL AND s2 - s <= 1800 AND s3 - s2 <= 1800
        |  GROUP BY 1)
        |SELECT cast(row_number() OVER (ORDER BY n DESC, path ASC) as bigint)
        |    AS rnk, path, n
        |FROM p QUALIFY rnk <= 20 ORDER BY rnk""".stripMargin)
}
