package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SQL-surface families added round 6 (second half): conditional /
  * selective aggregation (q53), higher-order array lambdas (q54),
  * recursive CTE graph walk (q55, Spark 4's WITH RECURSIVE), and
  * VARIANT semi-structured access (q56, Spark 4's open-ended JSON
  * type — the schema-on-read path for the reference's `props`-style
  * payload columns, ref `cmd/backup.go:258-331` decodes the same
  * shape client-side).
  *
  * Numeric discipline matches TpchQueries: DECIMAL(12,2) before
  * arithmetic, decimal → double through the digit string, and integer
  * lambda/fold arithmetic kept in BIGINT on both engines.
  */
object SqlSurfaceQueries {

  private def dec(c: Column): Column = c.cast("decimal(12,2)")
  private def asD(c: Column): Column = c.cast("string").cast("double")

  // q94 PageRank constants, shared by the Spark plan and the generated
  // oracle so the two sides cannot drift: ranks in 10⁻¹² units,
  // damping 85/100, base = (1-d)·scale.
  private val PrIters = 5
  private val PrScale = 1000000000000L
  private val PrBase = 150000000000L

  val defs: Map[String, QueryDef] = Map(

    // conditional / selective aggregation family: count_if ↔ FILTER,
    // bool_or/bool_and, and max_by/min_by ↔ arg_max/arg_min. Selector
    // values are made UNIQUE (price-cents · 10^10 + orderkey) because
    // both engines' arg-extremum is tie-nondeterministic; floor() on
    // both sides because DuckDB CAST(double AS BIGINT) rounds while
    // Spark truncates. The 10^10 multiplier is collision-free while
    // o_orderkey < 10^10 (ScaleUp offsets keys by 10^8 per copy, so
    // up to ~100 scaled copies) yet cannot overflow BIGINT for any
    // realistic price (cents·10^10 < 2^63 while price < ~9.2 M).
    // All of it is one hash aggregate — the partial state
    // (count/bool/argmax pairs) is mergeable, so the map-side
    // combine does most of the work before the single shuffle.
    "q53_conditional_agg" -> QueryDef(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  count(*) FILTER (WHERE CAST(o_totalprice AS DECIMAL(12,2)) > 200000)
        |    AS n_big,
        |  bool_or(CAST(o_totalprice AS DECIMAL(12,2)) > 200000) AS any_big,
        |  bool_and(CAST(o_totalprice AS DECIMAL(12,2)) > 0) AS all_pos,
        |  arg_max(o_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) * 10000000000 + o_orderkey)
        |    AS best_key,
        |  arg_min(o_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) * 10000000000 + o_orderkey)
        |    AS worst_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val big = dec(col("o_totalprice")) > 200000
      val rank = floor(col("o_totalprice") * 100).cast("bigint") *
        lit(10000000000L) + col("o_orderkey")
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          count_if(big).as("n_big"),
          bool_or(big).as("any_big"),
          bool_and(dec(col("o_totalprice")) > 0).as("all_pos"),
          max_by(col("o_orderkey"), rank).as("best_key"),
          min_by(col("o_orderkey"), rank).as("worst_key"))
        .orderBy(col("o_orderpriority"))
    },

    // higher-order array lambdas: transform (with and without the
    // element index), filter, and aggregate (fold) over per-order
    // quantity lists. The list is built by ONE hash aggregate
    // (sort_array(collect_list(struct)) — deterministic order by
    // (linenumber, qty): the fixture has duplicate linenumbers per
    // order, so qty is the tie-break on BOTH sides); every lambda
    // then runs inside the same stage with
    // no further shuffle. Spark's HOFs are CodegenFallback
    // (interpreted) — fine here where the arrays are bounded by
    // lines-per-order; hot unbounded paths use the compiled kernels
    // in graft.functions instead (measured 10-50× faster there).
    // Index bases differ: Spark transform((x,i)->…) is 0-based,
    // DuckDB list_transform((x,i)->…) is 1-based — the weighted sum
    // uses (i+1) on the Spark side to align.
    "q54_higher_order" -> QueryDef(
      """WITH arrs AS (
        |  SELECT l_orderkey,
        |    list(CAST(l_quantity AS INT)
        |      ORDER BY l_linenumber, CAST(l_quantity AS INT)) AS qs
        |  FROM lineitem WHERE l_orderkey % 10 = 0 GROUP BY 1)
        |SELECT l_orderkey,
        |  len(qs) AS n_items,
        |  CAST(list_reduce(list_transform(qs, x -> CAST(x * 2 AS BIGINT)),
        |    (a, b) -> a + b) AS BIGINT) AS sum_doubled,
        |  len(list_filter(qs, x -> x > 25)) AS n_big,
        |  CAST(list_reduce(list_transform(qs, (x, i) -> CAST(x * i AS BIGINT)),
        |    (a, b) -> a + b) AS BIGINT) AS weighted
        |FROM arrs ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .groupBy(col("l_orderkey"))
        .agg(transform(
          sort_array(collect_list(struct(col("l_linenumber"),
            col("l_quantity").cast("int").as("q")))),
          x => x.getField("q")).as("qs"))
        .select(col("l_orderkey"),
          size(col("qs")).cast("bigint").as("n_items"),
          aggregate(transform(col("qs"), x => (x * 2).cast("bigint")),
            lit(0L), (a, x) => a + x).as("sum_doubled"),
          size(filter(col("qs"), x => x > 25)).cast("bigint").as("n_big"),
          aggregate(transform(col("qs"),
              (x, i) => (x * (i + 1)).cast("bigint")),
            lit(0L), (a, x) => a + x).as("weighted"))
        .orderBy(col("l_orderkey"))
    },

    // recursive CTE (Spark 4 WITH RECURSIVE): walk the implicit
    // binary-tree hierarchy parent(k) = k div 2 over supplier keys —
    // anchor at the root, one join per level, ~log2(N) iterations
    // total. Each iteration is a plain equi-join on the frontier
    // (frontier size ≤ #suppliers), so the work per level is bounded
    // and shuffle-partitioned — recursion depth, not data size, is
    // the iteration count: 10× more suppliers adds ~3 levels.
    // DuckDB `//` = Spark `div` (both floor-divide positive ints).
    "q55_recursive_cte" -> QueryDef(
      """WITH RECURSIVE chain AS (
        |  SELECT s_suppkey AS k, 0 AS depth FROM supplier WHERE s_suppkey = 1
        |  UNION ALL
        |  SELECT s.s_suppkey, c.depth + 1
        |  FROM supplier s JOIN chain c ON s.s_suppkey // 2 = c.k)
        |SELECT depth, count(*) AS n_nodes, CAST(sum(k) AS BIGINT) AS sum_keys
        |FROM chain GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_q55")
      s.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT s_suppkey AS k, 0 AS depth
          |  FROM supplier_q55 WHERE s_suppkey = 1
          |  UNION ALL
          |  SELECT s.s_suppkey, c.depth + 1
          |  FROM supplier_q55 s JOIN chain c ON s.s_suppkey div 2 = c.k)
          |SELECT depth, count(*) AS n_nodes,
          |  CAST(sum(k) AS BIGINT) AS sum_keys
          |FROM chain GROUP BY depth ORDER BY depth""".stripMargin)
    },

    // VARIANT semi-structured access (Spark 4): the events table's
    // real `props` JSON column parsed once into the open-ended binary
    // VARIANT encoding, then field-extracted with typed paths —
    // schema-on-read without a schema declaration, the engine-native
    // upgrade over q19's string-path get_json_object. The parse and
    // both extracts run inside the scan stage; only the final agg
    // shuffles. DuckDB oracle reads the same JSON with json_extract.
    "q56_variant" -> QueryDef(
      """SELECT event_type,
        |  CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
        .groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"), col("k_mod"))
    },

    // datetime function family — the F-surface a TIMESTREAM engine
    // lives on, beyond the three parse layouts (r7) and the relative
    // grammar (F2). Cross-engine conventions pinned explicitly:
    // Spark dayofweek is 1=Sunday, DuckDB 0=Sunday (aligned by -1);
    // date_trunc('week') is Monday-based on both; add_months and
    // +INTERVAL MONTH both clamp month-ends; all date/timestamp
    // outputs leave as formatted strings so the engines hash the same
    // bytes. Pure per-row projection — runs inside the scan stage.
    "q57_datetime_funcs" -> QueryDef(
      """SELECT event_id,
        |  strftime(ts + INTERVAL 3 DAY, '%Y-%m-%d %H:%M:%S') AS plus_3d,
        |  date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS days_since,
        |  CAST(last_day(CAST(ts AS DATE)) AS VARCHAR) AS month_end,
        |  dayofweek(ts) AS dow,
        |  extract(hour FROM ts) AS hr,
        |  CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS week_start,
        |  CAST(CAST(ts AS DATE) + INTERVAL 2 MONTH AS DATE)::VARCHAR
        |    AS plus_2m,
        |  epoch_us(ts) AS epoch_us
        |FROM events WHERE event_id % 20 = 0 ORDER BY event_id""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .filter(col("event_id") % 20 === 0)
          .select(col("event_id"),
            date_format(col("ts") + expr("INTERVAL 3 DAYS"),
              "yyyy-MM-dd HH:mm:ss").as("plus_3d"),
            datediff(col("ts").cast("date"), lit("1995-01-01").cast("date"))
              .cast("bigint").as("days_since"),
            last_day(col("ts").cast("date")).cast("string").as("month_end"),
            (dayofweek(col("ts")) - 1).cast("bigint").as("dow"),
            hour(col("ts")).cast("bigint").as("hr"),
            date_trunc("week", col("ts")).cast("date").cast("string")
              .as("week_start"),
            add_months(col("ts").cast("date"), 2).cast("string").as("plus_2m"),
            unix_micros(col("ts")).as("epoch_us"))
          .orderBy(col("event_id"))
    },

    // multiset set operations (completes §2.7 alongside q13's distinct
    // union/intersect/except): EXCEPT ALL and INTERSECT ALL keep
    // per-row multiplicity — the semantics a dedup ledger needs
    // ("how many copies remain") that the distinct variants destroy.
    // Both compile to one hash aggregation over (row, count) with a
    // count-difference postfilter — no join, one shuffle each. The
    // by-name union arm re-aligns a column-swapped projection
    // (DataFrame unionByName; plain aligned UNION ALL in SQL).
    "q58_setops_all" -> QueryDef(
      """WITH a AS (SELECT o_orderpriority AS p, o_orderkey % 5 AS m
        |           FROM orders WHERE o_orderkey % 3 = 0),
        |     b AS (SELECT o_orderpriority AS p, o_orderkey % 5 AS m
        |           FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT 'except_all' AS op, p, m, count(*) AS n
        |FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 2, 3
        |UNION ALL
        |SELECT 'intersect_all' AS op, p, m, count(*) AS n
        |FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 2, 3
        |UNION ALL
        |SELECT 'union_by_name' AS op, p, m, count(*) AS n
        |FROM (SELECT p, m FROM a UNION ALL SELECT p, m FROM b) GROUP BY 2, 3
        |ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val base = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("p"),
          (col("o_orderkey") % 5).as("m"), col("o_orderkey"))
      val a = base.filter(col("o_orderkey") % 3 === 0).select(col("p"), col("m"))
      val b = base.filter(col("o_orderkey") % 2 === 0).select(col("p"), col("m"))
      val bSwapped = b.select(col("m"), col("p")) // column order differs on purpose
      def counted(df: org.apache.spark.sql.DataFrame, op: String) =
        df.groupBy(col("p"), col("m"))
          .agg(count(lit(1)).as("n")).withColumn("op", lit(op))
      counted(a.exceptAll(b), "except_all")
        .unionAll(counted(a.intersectAll(b), "intersect_all"))
        .unionAll(counted(a.unionByName(bSwapped), "union_by_name"))
        .select(col("op"), col("p"), col("m"), col("n"))
        .orderBy(col("op"), col("p"), col("m"))
    },

    // approximate percentiles (GK sketch): the 100 TB sibling of q29's
    // exact `percentile` — exact order statistics need the full value
    // multiset per group (memory ∝ group size); the GK summary is
    // bounded by 1/ε regardless of group size and merges
    // associatively, so partial aggregation works map-side like any
    // sum. Oracle-EXACT via the exact-when-small regime (q82/q87's
    // discipline): with accuracy ≥ n the summary's rank-error budget
    // ε·n = n/accuracy < 1, so no compression merge can move a sample
    // across a queried rank and query(q) returns exactly the element
    // at 1-indexed rank ceil(q·n) (pinned empirically on a distinct
    // 1..10 set: q=.75→rank 8, q=.95→rank 10). The oracle spells that
    // rank convention as a row_number window. ApproxPercentileSpec
    // still pins the formal ≤ ε·n guarantee for the genuinely
    // approximate (accuracy < n) regime. All output columns are SCALAR
    // on purpose: the driver's harness sorts the result frame by every
    // column, and an ARRAY column is unhashable there — the
    // multi-percentile form (array(0.25,0.75)) is covered as scalar
    // p25/p75 projections of the same sketch instead.
    "q59_approx_percentile" -> QueryDef(
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |    row_number() OVER (PARTITION BY l_returnflag
        |                       ORDER BY l_quantity) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  max(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT)
        |      THEN l_quantity END) AS p50_approx,
        |  max(CASE WHEN rn = CAST(ceil(0.95*n) AS BIGINT)
        |      THEN l_quantity END) AS p95_approx,
        |  max(CASE WHEN rn = CAST(ceil(0.25*n) AS BIGINT)
        |      THEN l_quantity END) AS p25_approx,
        |  max(CASE WHEN rn = CAST(ceil(0.75*n) AS BIGINT)
        |      THEN l_quantity END) AS p75_approx
        |FROM r GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_quantity, 0.5, 1000000)")
            .as("p50_approx"),
          expr("approx_percentile(l_quantity, 0.95, 1000000)")
            .as("p95_approx"),
          expr("approx_percentile(l_quantity, array(0.25, 0.75), 1000000)")
            .as("iqr_approx"))
        .select(
          col("l_returnflag"),
          col("p50_approx"),
          col("p95_approx"),
          col("iqr_approx").getItem(0).as("p25_approx"),
          col("iqr_approx").getItem(1).as("p75_approx"))
        .orderBy(col("l_returnflag"))
    },

    // snapshot versioning / time travel (operators/Snapshots): two
    // copy-on-write versions of an orders projection — v2 applies
    // updates (status flip on %10), deletes (%14) and inserts (odd
    // %3) — then AS-OF reads at v1 / v2 / a future version (resolves
    // to the latest committed), and a keyed row-level diff. The AS-OF
    // filter is partition PRUNING on the version= directory layout
    // (the scan never touches other snapshots' files); the diff is
    // two hash-joins on the key, each side one pruned scan. The
    // oracle recomputes every arm from the base table, so snapshot
    // write → resolve → read → diff must be lossless end to end.
    "q60_time_travel" -> QueryDef(
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    price
        |  FROM v1 WHERE o_orderkey % 14 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(o_totalprice AS DECIMAL(12,2))
        |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0)
        |SELECT 'asof_v1' AS arm, count(*) AS n,
        |       CAST(CAST(sum(price) AS VARCHAR) AS DOUBLE) AS total
        |FROM v1
        |UNION ALL
        |SELECT 'asof_v2', count(*),
        |       CAST(CAST(sum(price) AS VARCHAR) AS DOUBLE) FROM v2
        |UNION ALL
        |SELECT 'asof_future', count(*),
        |       CAST(CAST(sum(price) AS VARCHAR) AS DOUBLE) FROM v2
        |UNION ALL
        |SELECT 'diff_' || change_type, count(*), CAST(0 AS DOUBLE)
        |FROM (
        |  SELECT a.o_orderkey, 'changed' AS change_type
        |  FROM v1 a JOIN v2 b ON a.o_orderkey = b.o_orderkey
        |  WHERE a.o_orderstatus <> b.o_orderstatus OR a.price <> b.price
        |  UNION ALL
        |  SELECT o_orderkey, 'added' FROM v2
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v1)
        |  UNION ALL
        |  SELECT o_orderkey, 'removed' FROM v1
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v2))
        |GROUP BY 1
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      import graft.operators.Snapshots
      val root = QueryDef.scratchDir("q60_snapshots", dir)
      val orders = Tables.orders(s, dir)
      val v1 = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          dec(col("o_totalprice")).as("price"))
      val v2 = v1.filter(col("o_orderkey") % 14 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 10 === 0, "X")
            .otherwise(col("o_orderstatus")))
        .unionAll(orders
          .filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            dec(col("o_totalprice")).as("price")))
      Snapshots.write(v1, root, version = 1)
      Snapshots.write(v2, root, version = 2)

      def summarize(arm: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"),
            asD(sum(col("price"))).as("total"))
          .select(lit(arm).as("arm"), col("n"), col("total"))

      summarize("asof_v1", Snapshots.readAsOf(s, root, 1))
        .unionAll(summarize("asof_v2", Snapshots.readAsOf(s, root, 2)))
        .unionAll(summarize("asof_future", Snapshots.readAsOf(s, root, 99)))
        .unionAll(Snapshots.diff(s, root, from = 1, to = 2, key = "o_orderkey")
          .groupBy(concat(lit("diff_"), col("change_type")).as("arm"))
          .agg(count(lit(1)).as("n"), lit(0.0).as("total")))
        .orderBy(col("arm"))
    },

    // ANSI-safe ingestion family (try_cast / try_divide ↔ TRY_CAST /
    // NULL-guarded division): Spark 4 runs ANSI mode — a single
    // malformed value in 100 TB would fail the job; the try_* variants
    // return NULL per bad ROW instead, which is the only ingest
    // semantics that scales. Malformedness is synthesized
    // deterministically from real rows (priority strings where ints
    // should be, a bad date every 5th key, a zero denominator every
    // 10th). Aggregates stay in counts + exact integer sums — no
    // float accumulation, so the hash compare is order-independent.
    "q61_try_funcs" -> QueryDef(
      """SELECT o_orderpriority, count(*) AS n,
        |  count(TRY_CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_orderpriority
        |    ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT)) AS n_int_ok,
        |  CAST(sum(TRY_CAST(CASE WHEN o_orderkey % 7 = 0
        |    THEN o_orderpriority
        |    ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT)) AS BIGINT)
        |    AS sum_int,
        |  count(TRY_CAST(CASE WHEN o_orderkey % 5 = 0 THEN 'not-a-date'
        |    ELSE strftime(o_orderdate, '%Y-%m-%d') END AS DATE))
        |    AS n_date_ok,
        |  count(CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE 1 END)
        |    AS n_div_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val intStr = when(col("o_orderkey") % 7 === 0, col("o_orderpriority"))
        .otherwise(col("o_orderkey").cast("string"))
      val dateStr = when(col("o_orderkey") % 5 === 0, lit("not-a-date"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
      Tables.orders(s, dir)
        .select(col("o_orderpriority"),
          intStr.try_cast("bigint").as("as_int"),
          dateStr.try_cast("date").as("as_date"),
          try_divide(lit(1), col("o_orderkey") % 10).as("as_div"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          count(col("as_int")).as("n_int_ok"),
          sum(col("as_int")).as("sum_int"),
          count(col("as_date")).as("n_date_ok"),
          count(col("as_div")).as("n_div_ok"))
        .orderBy(col("o_orderpriority"))
    },

    // UNPIVOT (wide → long reshape): the inverse of q23's pivot.
    // Aggregate first (6 rows), then unpivot the three measure columns
    // into (measure, value) rows — the reshape runs on the TINY
    // aggregated side, so at 100 TB the heavy work is still one
    // map-side-combined hash aggregate and the unpivot itself is a
    // zero-shuffle row expansion. Unpivot requires one common value
    // type, and the driver's pandas path floats decimals — so every
    // measure goes decimal → digit string → DOUBLE on both engines
    // (the repo-wide asD discipline).
    "q62_unpivot" -> QueryDef(
      """WITH agg AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
        |      AS DOUBLE) AS sum_qty,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
        |      AS DOUBLE) AS sum_price,
        |    CAST(CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS VARCHAR)
        |      AS DOUBLE) AS sum_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, measure, value FROM (
        |  UNPIVOT agg ON sum_qty, sum_price, sum_disc
        |  INTO NAME measure VALUE value)
        |ORDER BY l_returnflag, measure""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(asD(sum(dec(col("l_quantity")))).as("sum_qty"),
          asD(sum(dec(col("l_extendedprice")))).as("sum_price"),
          asD(sum(dec(col("l_discount")))).as("sum_disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "measure", "value")
        .orderBy(col("l_returnflag"), col("measure"))
    },

    // struct surface (named_struct / array-of-struct sort / posexplode
    // / field access): group-wise top-3 customers by balance, computed
    // by sorting an array of (−bal, key) structs — array_sort's
    // lexicographic struct order IS the ranking, and unique c_custkey
    // breaks balance ties into a total order. Balances rank as exact
    // integer cents (floor(x·100), identical IEEE arithmetic on both
    // engines). The per-group array here is nation-sized; the scale
    // path for unbounded groups is the spill-guarded plans/GroupTopK
    // (q30) — this query's subject is the struct surface itself.
    "q63_struct_funcs" -> QueryDef(
      """WITH ranked AS (
        |  SELECT c_nationkey AS nationkey, c_custkey AS custkey,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY CAST(floor(c_acctbal * 100) AS BIGINT) DESC,
        |        c_custkey) AS rk
        |  FROM customer)
        |SELECT nationkey, CAST(rk AS BIGINT) AS rk, custkey, bal_cents
        |FROM ranked WHERE rk <= 3 ORDER BY nationkey, rk""".stripMargin) {
      (s, dir) =>
      val balCents = floor(col("c_acctbal") * 100).cast("bigint")
      Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_custkey"), balCents.as("bc"))
        .groupBy(col("c_nationkey"))
        .agg(slice(array_sort(collect_list(
          struct((-col("bc")).as("negbal"), col("c_custkey").as("ck")))),
          1, 3).as("top3"))
        .select(col("c_nationkey").as("nationkey"),
          posexplode(col("top3")).as(Seq("pos", "entry")))
        .select(col("nationkey"), (col("pos") + 1).cast("long").as("rk"),
          col("entry.ck").as("custkey"),
          (-col("entry.negbal")).as("bal_cents"))
        .orderBy(col("nationkey"), col("rk"))
    },

    // bitwise family (scalar &,<<,bit_count + aggregate
    // bit_and/bit_or/bit_xor): the substrate of every bitmap/bloom/
    // flag-word technique at scale. All three bitwise aggregates are
    // associative+commutative → map-side partials, one shuffle of
    // 5 groups. Keys are masked to 20 bits BEFORE aggregation and to
    // 8 bits BEFORE the shift so nothing overflows BIGINT on either
    // engine.
    "q64_bitwise" -> QueryDef(
      """SELECT o_orderpriority,
        |  bit_and(o_orderkey & 1048575) AS and_key,
        |  bit_or(o_orderkey & 1048575) AS or_key,
        |  bit_xor(o_orderkey & 1048575) AS xor_key,
        |  CAST(sum(bit_count(o_orderkey)) AS BIGINT) AS sum_bits,
        |  CAST(sum((o_orderkey & 255) << 3) AS BIGINT) AS sum_shifted
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val masked = col("o_orderkey").bitwiseAND(lit(1048575L))
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(bit_and(masked).as("and_key"),
          bit_or(masked).as("or_key"),
          bit_xor(masked).as("xor_key"),
          sum(bit_count(col("o_orderkey")).cast("bigint")).as("sum_bits"),
          sum(shiftleft(col("o_orderkey").bitwiseAND(lit(255L)), 3))
            .as("sum_shifted"))
        .orderBy(col("o_orderpriority"))
    },

    // regexp family (rlike / regexp_extract / regexp_replace /
    // regexp_count): every pattern sticks to the dialect intersection
    // of Java regex and DuckDB's RE2 (plain character classes, no
    // lookaround/backrefs — the same portability rule x33's PII
    // scrubber documents). Extraction goes through try_cast so a
    // non-matching row yields NULL, not an ANSI job abort. One hash
    // aggregate; regexp work is per-row, codegen'd, shuffle-free.
    "q65_regexp" -> QueryDef(
      """SELECT c_mktsegment, count(*) AS n,
        |  count(*) FILTER (WHERE regexp_matches(c_name, '#[0-9]+$'))
        |    AS n_name_ok,
        |  CAST(sum(CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT))
        |    AS BIGINT) AS sum_id,
        |  count(DISTINCT regexp_replace(c_name, '[0-9]', '#', 'g'))
        |    AS n_shapes,
        |  CAST(sum(len(regexp_extract_all(c_name, '[a-z]+')))
        |    AS BIGINT) AS sum_lower_runs
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          count_if(col("c_name").rlike("#[0-9]+$")).as("n_name_ok"),
          sum(regexp_extract(col("c_name"), "([0-9]+)", 1)
            .try_cast("bigint")).as("sum_id"),
          countDistinct(regexp_replace(col("c_name"), "[0-9]", "#"))
            .as("n_shapes"),
          sum(regexp_count(col("c_name"), lit("[a-z]+")).cast("bigint"))
            .as("sum_lower_runs"))
        .orderBy(col("c_mktsegment"))
    },

    // three-valued-logic / null-semantics family. The fixture has no
    // NULLs, so the nullable key is derived deterministically
    // (nullif(c_nationkey % 5, 0) → 1/5 of rows NULL) and every sharp
    // edge of SQL null handling is pinned as a (metric, value) row:
    // null-skipping count vs count(*), DISTINCT collapsing NULLs to
    // one group, `=` vs null-safe `<=>` (IS NOT DISTINCT FROM), a
    // null-safe equi-JOIN (Spark plans it as a normal hash join — the
    // null group is just another key, no fallback to NL), NOT IN
    // against a subquery WITH and WITHOUT a NULL (the with-NULL case
    // must yield 0 rows — Spark's null-aware anti join), and
    // NULLS FIRST/LAST ordering (TakeOrderedAndProject, never a
    // global sort). Each metric is one bounded aggregate; the union
    // of 12 single-row frames is driver-trivial at any corpus size.
    "q66_null_semantics" -> QueryDef(
      """WITH c AS (
        |  SELECT c_custkey, nullif(c_nationkey % 5, 0) AS grp
        |  FROM customer),
        |a AS (SELECT grp, count(*) AS na FROM c
        |      WHERE c_custkey % 2 = 0 GROUP BY grp),
        |b AS (SELECT grp, count(*) AS nb FROM c
        |      WHERE c_custkey % 2 = 1 GROUP BY grp),
        |sub_null AS (SELECT CASE WHEN s_suppkey = 1 THEN NULL
        |                    ELSE s_nationkey + 100 END AS k FROM supplier),
        |sub_clean AS (SELECT s_nationkey + 100 AS k FROM supplier
        |              WHERE s_suppkey <> 1)
        |SELECT metric, value FROM (
        |  SELECT 'n_total' AS metric, count(*) AS value FROM c
        |  UNION ALL SELECT 'n_grp', count(grp) FROM c
        |  UNION ALL SELECT 'n_distinct_grp', count(DISTINCT grp) FROM c
        |  UNION ALL SELECT 'n_distinct_with_null', count(*)
        |    FROM (SELECT DISTINCT grp FROM c)
        |  UNION ALL SELECT 'sum_coalesce',
        |    CAST(sum(coalesce(grp, -1)) AS BIGINT) FROM c
        |  UNION ALL SELECT 'n_eq_self',
        |    count(*) FILTER (WHERE grp = grp) FROM c
        |  UNION ALL SELECT 'n_nullsafe_self',
        |    count(*) FILTER (WHERE grp IS NOT DISTINCT FROM grp) FROM c
        |  UNION ALL SELECT 'nullsafe_join_pairs',
        |    CAST(sum(na * nb) AS BIGINT)
        |    FROM a JOIN b ON a.grp IS NOT DISTINCT FROM b.grp
        |  UNION ALL SELECT 'n_not_in_with_null', count(*) FROM c
        |    WHERE grp NOT IN (SELECT k FROM sub_null)
        |  UNION ALL SELECT 'n_not_in_clean', count(*) FROM c
        |    WHERE grp NOT IN (SELECT k FROM sub_clean)
        |  UNION ALL SELECT 'first_nulls_first',
        |    (SELECT c_custkey FROM c ORDER BY grp NULLS FIRST, c_custkey
        |     LIMIT 1)
        |  UNION ALL SELECT 'first_nulls_last',
        |    (SELECT c_custkey FROM c ORDER BY grp NULLS LAST, c_custkey
        |     LIMIT 1)
        |) ORDER BY metric""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir).select(
        col("c_custkey"),
        nullif(col("c_nationkey") % 5, lit(0)).as("grp"))
      def m(name: String, v: Column)(df: org.apache.spark.sql.DataFrame) =
        df.agg(v.cast("bigint").as("value"))
          .select(lit(name).as("metric"), col("value"))
      val aSide = c.filter(col("c_custkey") % 2 === 0)
        .groupBy("grp").agg(count(lit(1)).as("na"))
      val bSide = c.filter(col("c_custkey") % 2 === 1)
        .groupBy(col("grp").as("grp_b")).agg(count(lit(1)).as("nb"))
      val nullsafeJoin = m("nullsafe_join_pairs",
        sum(col("na") * col("nb")))(
        aSide.join(bSide, col("grp") <=> col("grp_b")))
      // NOT IN subqueries via SQL: the DataFrame API has no null-aware
      // anti join surface; Spark plans these as BroadcastNestedLoop
      // null-aware anti joins with the correct three-valued semantics.
      c.createOrReplaceTempView("c_q66")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_q66")
      val notInNull = s.sql(
        """SELECT 'n_not_in_with_null' AS metric,
          |  CAST(count(*) AS BIGINT) AS value FROM c_q66
          |WHERE grp NOT IN (SELECT CASE WHEN s_suppkey = 1 THEN NULL
          |                  ELSE s_nationkey + 100 END FROM supplier_q66)"""
          .stripMargin)
      val notInClean = s.sql(
        """SELECT 'n_not_in_clean' AS metric,
          |  CAST(count(*) AS BIGINT) AS value FROM c_q66
          |WHERE grp NOT IN (SELECT s_nationkey + 100 FROM supplier_q66
          |                  WHERE s_suppkey <> 1)""".stripMargin)
      def firstBy(name: String, key: Column) =
        c.orderBy(key, col("c_custkey")).limit(1)
          .select(lit(name).as("metric"),
            col("c_custkey").cast("bigint").as("value"))
      Seq(
        m("n_total", count(lit(1)))(c),
        m("n_grp", count(col("grp")))(c),
        m("n_distinct_grp", countDistinct(col("grp")))(c),
        m("n_distinct_with_null", count(lit(1)))(c.select("grp").distinct),
        m("sum_coalesce", sum(coalesce(col("grp"), lit(-1))))(c),
        m("n_eq_self", count_if(col("grp") === col("grp")))(c),
        m("n_nullsafe_self", count_if(col("grp") <=> col("grp")))(c),
        nullsafeJoin, notInNull, notInClean,
        firstBy("first_nulls_first", col("grp").asc_nulls_first),
        firstBy("first_nulls_last", col("grp").asc_nulls_last)
      ).reduce(_ union _).orderBy("metric")
    },

    // outer generator semantics: explode_outer preserves the parent
    // row (as a NULL element) when the array is empty — the difference
    // between "unnest drops customers with no qualifying orders" and
    // "every customer appears exactly once even with none" that inner
    // explode (q44's posexplode) silently gets wrong for sparse data.
    // Arrays are built by one hash aggregate over a left join; the
    // reshape itself is a zero-shuffle row expansion. DuckDB mirrors
    // explode_outer with LEFT JOIN LATERAL unnest.
    "q70_explode_outer" -> QueryDef(
      """WITH arr AS (
        |  SELECT c.c_custkey, c.c_mktsegment,
        |    list_sort(list(CAST(o.o_totalprice AS DECIMAL(12,2)))
        |      FILTER (o.o_orderkey IS NOT NULL)) AS vals
        |  FROM customer c LEFT JOIN orders o
        |    ON o.o_custkey = c.c_custkey
        |   AND CAST(o.o_totalprice AS DECIMAL(12,2)) > 150000
        |  GROUP BY 1, 2)
        |SELECT c_mktsegment, count(*) AS n_rows, count(v) AS n_vals,
        |  count(*) FILTER (WHERE v IS NULL) AS n_empty,
        |  CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) AS sum_vals
        |FROM arr LEFT JOIN LATERAL (SELECT unnest(vals) AS v) u ON true
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val qual = Tables.orders(s, dir)
        .filter(dec(col("o_totalprice")) > 150000)
        .select(col("o_custkey"), dec(col("o_totalprice")).as("p"))
      val arr = Tables.customer(s, dir)
        .join(qual, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(sort_array(collect_list(col("p"))).as("vals"))
      arr.select(col("c_mktsegment"), explode_outer(col("vals")).as("v"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("v")).as("n_vals"),
          count_if(col("v").isNull).as("n_empty"),
          asD(sum(col("v"))).as("sum_vals"))
        .orderBy(col("c_mktsegment"))
    },

    // collation-aware comparison (Spark 4 COLLATE): grouping, equality
    // and DISTINCT under UTF8_LCASE collapse case variants WITHOUT
    // rewriting every expression with lower() — the engine-level knob
    // for case-insensitive corpora. Case noise is synthesized
    // deterministically (even keys upper, odd lower); the oracle
    // expresses the same semantics with explicit lower(), and the
    // output canonicalizes the group key the same way on both engines
    // (a collated group's representative is engine-dependent).
    // Grouping on a collated column is still ONE hash aggregate —
    // collation affects the hash/equality functions, not the plan.
    "q72_collation" -> QueryDef(
      """WITH noisy AS (
        |  SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
        |              ELSE lower(c_mktsegment) END AS seg,
        |         c_custkey
        |  FROM customer)
        |SELECT lower(seg) AS seg_ci, count(*) AS n,
        |  count(DISTINCT CASE WHEN seg = upper(seg) THEN 'U' ELSE 'L' END)
        |    AS n_case_variants,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_keys
        |FROM noisy GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val noisy = Tables.customer(s, dir).select(
        when(col("c_custkey") % 2 === 0, upper(col("c_mktsegment")))
          .otherwise(lower(col("c_mktsegment"))).as("seg"),
        col("c_custkey"))
      noisy
        .withColumn("seg_coll", expr("collate(seg, 'UTF8_LCASE')"))
        .groupBy(col("seg_coll"))
        .agg(count(lit(1)).as("n"),
          countDistinct(when(col("seg") === upper(col("seg")), "U")
            .otherwise("L")).as("n_case_variants"),
          sum(col("c_custkey")).cast("bigint").as("sum_keys"))
        .select(lower(col("seg_coll")).cast("string").as("seg_ci"),
          col("n"), col("n_case_variants"), col("sum_keys"))
        .orderBy(col("seg_ci"))
    },

    // SQL DML verbs over a catalog table: CREATE TABLE AS SELECT,
    // INSERT INTO (append), INSERT OVERWRITE (replace) — the
    // write-path statements a SQL-first user drives the engine with.
    // Each step's state is snapshotted EAGERLY (one-row aggregate
    // collect per step — laziness would otherwise evaluate all three
    // reads against the final table state); the oracle recomputes
    // every step from the base table, so append and overwrite
    // semantics must both be exact. Sums ride the digit-string double
    // discipline.
    "q73_sql_dml" -> QueryDef(
      """SELECT 'step1_ctas' AS step, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'step2_insert_into', count(*),
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
        |    AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 'step3_insert_overwrite', count(*),
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
        |    AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 = 2
        |ORDER BY step""".stripMargin) { (s, dir) =>
      val scratch = QueryDef.scratchDir("q73_dml", dir)
      val t = "graft_dml_orders"
      Tables.orders(s, dir).createOrReplaceTempView("orders_q73")
      def sel(pred: String): String =
        "SELECT o_orderkey, o_orderpriority, " +
          s"CAST(o_totalprice AS DECIMAL(12,2)) AS price " +
          s"FROM orders_q73 WHERE $pred"
      s.sql(s"DROP TABLE IF EXISTS $t")
      // DROP on an EXTERNAL (LOCATION'd) table leaves its files behind,
      // and CTAS refuses a non-empty location — so a rerun in the same
      // JVM failed instantly until the location is cleared too. Every
      // other DDL query is mode=overwrite saveAsTable, which rewrites
      // the location itself.
      graft.util.Fs.deleteRecursively(s"$scratch/t")
      s.sql(s"CREATE TABLE $t USING parquet LOCATION '$scratch/t' AS " +
        sel("o_orderkey % 3 = 0"))
      def snap(step: String): (String, Long, String) = {
        val r = s.table(t)
          .agg(count(lit(1)).as("n"), sum(col("price")).as("sp"))
          .collect()(0)
        (step, r.getLong(0), r.getDecimal(1).toPlainString)
      }
      val s1 = snap("step1_ctas")
      s.sql(s"INSERT INTO $t " + sel("o_orderkey % 3 = 1"))
      val s2 = snap("step2_insert_into")
      s.sql(s"INSERT OVERWRITE $t " + sel("o_orderkey % 3 = 2"))
      val s3 = snap("step3_insert_overwrite")
      import s.implicits._
      Seq(s1, s2, s3).toDF("step", "n", "sp")
        .select(col("step"), col("n"),
          col("sp").cast("double").as("sum_price"))
        .orderBy(col("step"))
    },

    // data-quality expectations (operators/Expectations): R rules as
    // ONE scan + ONE aggregate — R conditional counters with map-side
    // partials, then a zero-shuffle unpivot of the single wide row;
    // the per-rule-scan alternative is R full passes at 100 TB. Rules
    // chosen so some pass and some fail deterministically; a
    // NULL-valued predicate counts as a violation (unknown ≠ held).
    "q74_expectations" -> QueryDef(
      """WITH checks AS (
        |  SELECT
        |    count(*) AS n_checked,
        |    count(*) FILTER (WHERE NOT coalesce(
        |      CAST(o_totalprice AS DECIMAL(12,2)) > 0, false))
        |      AS v_price_positive,
        |    count(*) FILTER (WHERE NOT coalesce(
        |      o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',
        |                          '4-NOT SPECIFIED','5-LOW'), false))
        |      AS v_priority_known,
        |    count(*) FILTER (WHERE NOT coalesce(
        |      CAST(o_totalprice AS DECIMAL(12,2)) <= 300000, false))
        |      AS v_price_capped,
        |    count(*) FILTER (WHERE NOT coalesce(
        |      o_orderkey % 1000 <> 0, false)) AS v_key_not_round
        |  FROM orders)
        |SELECT rule, n_checked, n_violations, n_violations = 0 AS pass
        |FROM (
        |  SELECT 'price_positive' AS rule, n_checked,
        |         v_price_positive AS n_violations FROM checks
        |  UNION ALL SELECT 'priority_known', n_checked, v_priority_known
        |    FROM checks
        |  UNION ALL SELECT 'price_capped', n_checked, v_price_capped
        |    FROM checks
        |  UNION ALL SELECT 'key_not_round', n_checked, v_key_not_round
        |    FROM checks)
        |ORDER BY rule""".stripMargin) { (s, dir) =>
      import graft.operators.Expectations
      import graft.operators.Expectations.Rule
      Expectations.check(Tables.orders(s, dir), Seq(
        Rule("price_positive", "CAST(o_totalprice AS DECIMAL(12,2)) > 0"),
        Rule("priority_known",
          "o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM'," +
            "'4-NOT SPECIFIED','5-LOW')"),
        Rule("price_capped",
          "CAST(o_totalprice AS DECIMAL(12,2)) <= 300000"),
        Rule("key_not_round", "o_orderkey % 1000 <> 0")))
    },

    // ---- q81: equi-width histogram (width_bucket) --------------------
    // The one-scan distribution profile every data-quality/EDA pass
    // starts with: per event_type, 25-wide value buckets over [0, 500)
    // via Spark's width_bucket (codegen'd arithmetic inside the scan
    // stage) + ONE map-side-combined hash aggregate. DuckDB has no
    // width_bucket, so the oracle states the identical IEEE arithmetic
    // (bucket width 500/20 = 25.0 exactly, so floor(v/25)+1 is the
    // same double op on both engines). Buckets are LONG; counts exact.
    "q81_value_histogram" -> QueryDef(
      """SELECT event_type,
        |  CAST(FLOOR(value / 25.0) AS BIGINT) + 1 AS bucket,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("width_bucket(value, 0.0D, 500.0D, 20)").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("string")
            .cast("double").as("sum_value"))
    },

    // ---- q82: approximate top-k (DataSketches frequent items) --------
    // Spark 4's approx_top_k — the mergeable heavy-hitters sketch that
    // answers "top URLs / tokens / keys" at 100 TB in one pass with
    // bounded memory, completing the sketch family beside HLL (q15),
    // GK (q59), count-min (CountMinSpec) and bloom. Oracle-exactness
    // by the sketch's own guarantee: with maxItemsTracked >= #distinct
    // items nothing is ever evicted and every count is EXACT, so on
    // the bounded event_type domain the result equals the true top-3
    // (counts are distinct at every fixture SF — no tie ambiguity).
    "q82_approx_topk" -> QueryDef(
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY 1 ORDER BY n DESC, event_type LIMIT 3""".stripMargin) {
      (s, dir) =>
      Tables.events(s, dir)
        .agg(expr("approx_top_k(event_type, 3, 64)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("event_type"), col("e.count").as("n"))
    },

    // ---- q83: sketch-merge workflow (accumulate → combine → estimate)
    // The production shape behind q82: per-group sketches built
    // map-side (accumulate per day), merged associatively (combine —
    // what makes the answer ONE shuffle of sketch bytes instead of a
    // global re-count), estimated once at the end. Same exact-domain
    // argument as q82, so the merged estimate equals the true top-3.
    "q83_topk_sketch_merge" -> QueryDef(
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY 1 ORDER BY n DESC, event_type LIMIT 3""".stripMargin) {
      (s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("approx_top_k_accumulate(event_type, 64)").as("sk"))
        .agg(expr("approx_top_k_combine(sk, 64)").as("comb"))
        .select(explode(expr("approx_top_k_estimate(comb, 3)")).as("e"))
        .select(col("e.item").as("event_type"), col("e.count").as("n"))
    },

    // ---- q87: HLL sketch-merge distinct-count workflow ---------------
    // The pre-aggregated-HLL-cube pattern next to q83's top-k twin:
    // per-day DataSketches HLL sketches of the user domain, merged per
    // week (`hll_union_agg`), estimated once — at 100 TB the weekly
    // rollup shuffles kilobyte sketches, never re-scans the days, and
    // the same day sketches serve ANY window (month, trailing-28d)
    // by re-merge. Oracle-EXACT via the exact-when-sparse regime
    // (q83's no-eviction discipline): lgConfigK=20 keeps the sketch in
    // list/set mode far beyond the fixture's ≤1000-value domain
    // (user_id % 1000), so the estimate IS the true distinct count at
    // every SF; HllMergeSpec quantifies the full-domain (approximate)
    // path and pins merge ≡ one-shot.
    "q87_hll_sketch_merge" -> QueryDef(
      """SELECT CAST(date_trunc('week', ts) AS DATE)::VARCHAR AS week,
        |       count(DISTINCT user_id % 1000) AS n_users
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("week", col("ts")).cast("date").as("wk"),
          to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id % 1000, 20)").as("sk"))
        .groupBy(col("wk"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("n_users"))
        .select(col("wk").cast("string").as("week"), col("n_users"))
    },

    // ---- q84: modern aggregate family (median / mode / listagg) ------
    // Spark 4's direct aggregate forms of what older code spelled as
    // percentile(0.5) / a count-desc window / collect_list+sort. Cross-
    // engine exactness: median over integer CENTS — an even-n midpoint
    // is (a+b)/2 on sub-2^52 integers, exact in IEEE on both engines;
    // mode over a bucket whose per-group counts are tie-free at the
    // correctness SF (both engines' mode is tie-nondeterministic);
    // listagg fully ordered by the aggregated id (Spark WITHIN GROUP ↔
    // DuckDB string_agg ORDER BY).
    "q84_modern_aggs" -> QueryDef(
      """SELECT event_type, count(*) AS n,
        |  CAST(median(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS DOUBLE) AS median_cents,
        |  mode(user_id % 3) AS mode_bucket,
        |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id)
        |    AS id_list
        |FROM events WHERE event_id < 2000
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).filter(col("event_id") < 2000)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(median(CAST(CAST(value AS DECIMAL(12,2)) * 100 " +
            "AS BIGINT)) AS DOUBLE)").as("median_cents"),
          expr("mode(user_id % 3)").as("mode_bucket"),
          expr("listagg(CAST(event_id AS STRING), ',') " +
            "WITHIN GROUP (ORDER BY event_id)").as("id_list"))
    },

    // ---- q85: point-in-time (temporal AS OF) join against SCD2 ------
    // The warehouse question q37's history build exists to answer:
    // "what was each entity's state at time T?" — a probe grid joined
    // into the [valid_from, valid_to) versions, NULL-open current rows
    // included. Join is keyed on user_id (shuffle-safe at any scale);
    // the interval test is a post-join filter. A user whose history
    // starts after T contributes no row (inner semantics). Timestamps
    // formatted under the repo's µs discipline; same (ts, event_id)
    // tie order as q37, so zero-width versions at tied timestamps are
    // deterministically unmatched in both engines.
    "q85_scd2_pointintime" -> QueryDef(
      """WITH marked AS (
        |  SELECT user_id, event_type, date_trunc('microsecond', ts) AS ts,
        |         event_id,
        |         lag(event_type) OVER w AS prev_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY date_trunc('microsecond', ts), event_id)),
        |changes AS (
        |  SELECT user_id, event_type, ts, event_id FROM marked
        |  WHERE prev_type IS NULL OR prev_type != event_type),
        |v AS (
        |  SELECT user_id, event_type, ts AS valid_from,
        |         lead(ts) OVER w2 AS valid_to
        |  FROM changes
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, unnest([TIMESTAMP '2024-01-10 00:00:00',
        |                          TIMESTAMP '2024-01-20 00:00:00']) AS probe_ts
        |  FROM (SELECT DISTINCT user_id FROM events))
        |SELECT g.user_id, strftime(g.probe_ts, '%Y-%m-%d %H:%M:%S') AS probe_ts,
        |       v.event_type AS state
        |FROM g JOIN v ON v.user_id = g.user_id
        |  AND v.valid_from <= g.probe_ts
        |  AND (v.valid_to IS NULL OR v.valid_to > g.probe_ts)""".stripMargin) {
      (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val changes = Tables.events(s, dir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
      val w2 = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val v = changes.select(col("user_id"), col("event_type"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w2).as("valid_to"))
      val g = Tables.events(s, dir).select(col("user_id")).distinct()
        .select(col("user_id"), explode(array(
          lit("2024-01-10 00:00:00").cast("timestamp"),
          lit("2024-01-20 00:00:00").cast("timestamp"))).as("probe_ts"))
      g.join(v, Seq("user_id"))
        .filter(col("valid_from") <= col("probe_ts") &&
          (col("valid_to").isNull || col("valid_to") > col("probe_ts")))
        .select(col("user_id"),
          date_format(col("probe_ts"), "yyyy-MM-dd HH:mm:ss").as("probe_ts"),
          col("event_type").as("state"))
    },

    // ---- q86: snapshot reconciliation diff ---------------------------
    // The anti-entropy check every backup/replication system runs:
    // compare two relation snapshots WITHOUT shipping rows — per
    // partition, a row count and a bounded hash-sum (portable 60-bit
    // md5 hash of the row identity, mod 10⁹ so a BIGINT sum holds ~10⁹
    // rows per group), then a full-outer join of the two summary sides
    // flags divergent partitions. Two scans + two map-side-combined
    // aggregates + one tiny join — rows never cross the network, only
    // per-partition digests. The fixture diffs the Jan-20 snapshot
    // against Jan-25, so the later days genuinely diverge.
    "q86_snapshot_diff" -> QueryDef({
      val h = "('0x'||substr(md5('5|'||CAST(event_id AS VARCHAR)||'|'||" +
        "CAST(user_id AS VARCHAR)),1,15))::BIGINT % 1000000000"
      """WITH a AS (
        |  SELECT event_type, count(*) AS n_a,
        |         CAST(sum(HEXPR) AS BIGINT) AS hashsum_a
        |  FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
        |  GROUP BY 1),
        |b AS (
        |  SELECT event_type, count(*) AS n_b,
        |         CAST(sum(HEXPR) AS BIGINT) AS hashsum_b
        |  FROM events WHERE ts <= TIMESTAMP '2024-01-25 00:00:00'
        |  GROUP BY 1)
        |SELECT COALESCE(a.event_type, b.event_type) AS event_type,
        |       COALESCE(n_a, 0)::BIGINT AS n_a,
        |       COALESCE(n_b, 0)::BIGINT AS n_b,
        |       COALESCE(hashsum_a, 0)::BIGINT AS hashsum_a,
        |       COALESCE(hashsum_b, 0)::BIGINT AS hashsum_b,
        |       (COALESCE(n_a, 0) = COALESCE(n_b, 0) AND
        |        COALESCE(hashsum_a, 0) = COALESCE(hashsum_b, 0)) AS is_match
        |FROM a FULL OUTER JOIN b ON a.event_type = b.event_type""".stripMargin
        .replace("HEXPR", h)
    }) { (s, dir) =>
      val h = graft.dedup.Dedup.hash60Sql(
        "concat(CAST(event_id AS STRING), '|', CAST(user_id AS STRING))",
        seed = 5) + " % 1000000000"
      def snap(cut: String, n: String, hs: String) =
        Tables.events(s, dir)
          .filter(col("ts") <= lit(cut).cast("timestamp"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as(n), sum(expr(h)).cast("bigint").as(hs))
      val a = snap("2024-01-20 00:00:00", "n_a", "hashsum_a")
      val b = snap("2024-01-25 00:00:00", "n_b", "hashsum_b")
      a.join(b, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"),
          coalesce(col("hashsum_a"), lit(0L)).as("hashsum_a"),
          coalesce(col("hashsum_b"), lit(0L)).as("hashsum_b"),
          (coalesce(col("n_a"), lit(0L)) === coalesce(col("n_b"), lit(0L)) &&
            coalesce(col("hashsum_a"), lit(0L)) ===
              coalesce(col("hashsum_b"), lit(0L))).as("is_match"))
    },

    // ---- q88: SQL pipe syntax (Spark 4 |> operators) -----------------
    // The linear FROM → WHERE → AGGREGATE → ORDER BY pipeline form —
    // each |> stage consumes the previous stage's output, so the query
    // reads in execution order. Parsing is surface-level only: the
    // pipe form lowers to the SAME logical plan as the nested-SELECT
    // equivalent (one parquet scan with the shipdate filter pushed
    // down, one partial+final hash aggregate), which the identical
    // ANSI oracle verifies. Decimal/double discipline matches q01.
    "q88_pipe_syntax" -> QueryDef(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_q88_lineitem")
      s.sql(
        """FROM graft_q88_lineitem
          ||> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          ||> AGGREGATE count(*) AS n,
          |     CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS STRING)
          |       AS DOUBLE) AS sum_qty
          |   GROUP BY l_returnflag, l_linestatus
          ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },

    // ---- q89: SQL scalar UDF (CREATE FUNCTION ... RETURN expr) -------
    // Spark 4's SQL-defined functions: the discounted-price business
    // rule declared ONCE in SQL and reused by name. The body is
    // inlined into the plan at resolution time — the aggregate below
    // codegens exactly like q01's hand-written DiscPrice column, so
    // the UDF is an abstraction with zero execution cost (no UDF call
    // boundary, unlike JVM/Python UDFs). RETURNS DECIMAL(26,4) is
    // Spark's exact multiply precision for (12,2)×(13,2); the oracle
    // inlines the same expression and both engines sum exactly.
    "q89_sql_udf" -> QueryDef(
      """SELECT l_returnflag,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(12,2)))) AS VARCHAR) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin) { (s0, dir) =>
      // the function is created in a clone: the caller's registry stays
      // as the session was built
      val s = s0.newSession()
      s.sql(
        """CREATE TEMPORARY FUNCTION graft_q89_disc_price(
          |  p DOUBLE, d DOUBLE) RETURNS DECIMAL(26,4)
          |RETURN CAST(p AS DECIMAL(12,2)) * (1 - CAST(d AS DECIMAL(12,2)))
          |""".stripMargin)
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_q89_lineitem")
      s.sql(
        """SELECT l_returnflag,
          |  CAST(CAST(sum(graft_q89_disc_price(l_extendedprice, l_discount))
          |    AS STRING) AS DOUBLE) AS revenue,
          |  count(*) AS n
          |FROM graft_q89_lineitem GROUP BY l_returnflag""".stripMargin)
    },

    // ---- q90: SQL table UDF + correlated LATERAL ---------------------
    // A table-valued SQL function (RETURNS TABLE) invoked with a
    // correlated argument under LATERAL — the declarative spine
    // generator behind gap-fill (Resample builds the same shape with
    // sequence+explode). Each region row fans out to r_regionkey+1
    // steps; the UDTF body inlines to explode(sequence(...)), so the
    // plan is one generate over the 5-row region table — no join, no
    // shuffle. Oracle uses DuckDB's generate_series under LATERAL.
    "q90_sql_table_udf" -> QueryDef(
      """SELECT r_name, gs.step
        |FROM region, LATERAL (
        |  SELECT unnest(generate_series(1, CAST(r_regionkey AS INT) + 1))
        |    AS step) gs""".stripMargin) { (s0, dir) =>
      val s = s0.newSession() // as q89: the caller's registry stays as built
      s.sql(
        """CREATE TEMPORARY FUNCTION graft_q90_spine(n INT)
          |RETURNS TABLE(step INT)
          |RETURN SELECT explode(sequence(1, n)) AS step
          |""".stripMargin)
      Tables.region(s, dir).createOrReplaceTempView("graft_q90_region")
      s.sql(
        """SELECT r_name, t.step
          |FROM graft_q90_region,
          |  LATERAL graft_q90_spine(CAST(r_regionkey AS INT) + 1) t"""
          .stripMargin)
    },

    // ---- q91: GROUP BY ALL / ORDER BY ALL ----------------------------
    // Spark 4 (and DuckDB) infer the grouping key as every
    // non-aggregate select item — the resilient form for wide rollups
    // where hand-listing keys drifts from the select list. Inference
    // is purely syntactic sugar over GROUP BY 1,2: same single hash
    // aggregate, map-side combined. Cents kept in BIGINT (floor ×100)
    // so the sum is integer-exact on both engines.
    "q91_group_by_all" -> QueryDef(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("graft_q91_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |  sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
          |FROM graft_q91_orders GROUP BY ALL ORDER BY ALL""".stripMargin)
    },

    // ---- q92: parameterized SQL + IDENTIFIER clause ------------------
    // Spark 4's injection-safe dynamic SQL: named parameter markers
    // (`:minPrice`) bind VALUES and `IDENTIFIER(:tbl)` binds a NAME —
    // the two halves of templated query execution that string
    // interpolation does unsafely (SURVEY §2.8 F7 closed this for the
    // Column API; this is the SQL-text equivalent). Parameters resolve
    // at parse/analysis time, so the executed plan is byte-identical
    // to the inlined query: same scan, same pushed filter, same
    // aggregate. The oracle inlines the same literal values.
    "q92_parameterized_sql" -> QueryDef(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders WHERE o_totalprice > 150000.0
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("graft_q92_orders")
      s.sql(
        """SELECT o_orderstatus, count(*) AS n,
          |  sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
          |FROM IDENTIFIER(:tbl) WHERE o_totalprice > :minPrice
          |GROUP BY o_orderstatus""".stripMargin,
        Map("tbl" -> "graft_q92_orders", "minPrice" -> 150000.0))
    },

    // ---- q94: iterative PageRank in exact integer arithmetic ---------
    // Fixed-point graph iteration on Spark: PageRank (damping 0.85,
    // 5 iterations) over the event-type transition graph (edge src→dst
    // weighted by how often a user's NEXT event moves between the
    // types). Ranks live in integer 10⁻¹² units and every division is
    // integer division, so both engines produce bit-identical ranks —
    // the oracle UNROLLS the same five iterations as CTEs built from
    // the same constants (PrIters/PrScale/damping 85/100), so the two
    // sides cannot drift. Scale shape: each iteration is ONE shuffle
    // join of ranks into the weighted edge list plus one dst-keyed
    // aggregate; ranks are persisted per round and the previous round
    // unpersisted, truncating the lineage chain that otherwise grows
    // linearly with iterations (the standard Spark iterative-algorithm
    // discipline — at web scale you also checkpoint every ~10 rounds).
    // Overflow bound: rank·w ≤ 10¹²·|E-weight|, safe while any single
    // edge weight < 9.2·10⁶ (sf100-events territory; rescale PrScale
    // down if a corpus crosses it). Dangling nodes receive base rank
    // only — the simplified formulation, identical in both engines.
    "q94_pagerank" -> QueryDef({
      val iters = (1 to PrIters).map { i =>
        s"""r$i AS (
           |  SELECT v.node,
           |    ($PrBase // (SELECT n FROM nn)) +
           |    (85 * COALESCE(s.contrib, 0)) // 100 AS rank
           |  FROM v LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum((r.rank * e.w) // o.outw) AS BIGINT) AS contrib
           |    FROM e JOIN r${i - 1} r ON e.src = r.node
           |           JOIN o ON e.src = o.src
           |    GROUP BY e.dst) s ON v.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH m AS (
         |  SELECT user_id, event_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS nxt
         |  FROM events),
         |e AS (SELECT event_type AS src, nxt AS dst, count(*) AS w
         |      FROM m WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |o AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY 1),
         |v AS (SELECT DISTINCT event_type AS node FROM events),
         |nn AS (SELECT count(*) AS n FROM v),
         |r0 AS (SELECT node, $PrScale // (SELECT n FROM nn) AS rank FROM v),
         |$iters
         |SELECT node AS event_type, rank AS rank_e12 FROM r$PrIters"""
        .stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val events = Tables.events(s, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val edges = events
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
        .agg(count(lit(1)).as("w"))
      val out = edges.groupBy(col("src"))
        .agg(sum(col("w")).cast("bigint").as("outw"))
      // r16 opt: the per-iteration persist + count() loop spent its
      // wall on JOBS, not data — 5 rounds × (cache-materialize job +
      // planning) over a 5-node graph ran 49 stages / 793 tasks
      // (eventlog), ~3 s of pure scheduling. PrIters is a small fixed
      // constant (the oracle unrolls the SAME 5 iterations as CTEs), so
      // the rounds UNROLL into one declarative plan executed by a
      // single action: per iteration one shuffle join + one dst-keyed
      // aggregate, exactly the CTE shape. nodes/ew are persisted (each
      // appears in every unrolled round — without the cache the plan
      // would recompute the edge aggregate per round), sized by
      // coalesce from the measured row count (SizedParts: a persist
      // pins its child partitioning, and a 5-row rank vector must not
      // be cached as 32 partitions; a web-scale one keeps full width).
      // Lineage discipline at larger iteration counts stays what the
      // scaladoc says — checkpoint every ~10 rounds; 5 needs none.
      val nodes0 = events.select(col("event_type").as("node")).distinct()
      val n = nodes0.count() // one scalar: |node types|, metadata-sized
      val parts = graft.operators.SizedParts(events.sparkSession, n)
      val nodes = nodes0.coalesce(parts).persist()
      val ew = edges.join(out, "src").coalesce(parts).persist()
      var ranks = nodes.withColumn("rank", lit(PrScale / n))
      (1 to PrIters).foreach { _ =>
        val contrib = ew
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .withColumn("c", expr("(rank * w) div outw"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("c")).cast("bigint").as("contrib"))
        ranks = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"), (lit(PrBase / n) +
            expr("(85 * coalesce(contrib, CAST(0 AS BIGINT))) div 100"))
            .as("rank"))
      }
      val res = ranks
        .select(col("node").as("event_type"), col("rank").as("rank_e12"))
      val collected = res.collect() // 5 rows; ONE action runs all rounds
      ew.unpersist(); nodes.unpersist()
      s.createDataFrame(
        s.sparkContext.parallelize(collected.toIndexedSeq), res.schema)
    },

    // table profile / data card — the ANALYZE-style per-column summary a
    // pipeline publishes with every dataset release: row count, null
    // count, exact distinct count, and formatted min/max for every
    // column, in ONE pass over the table (a single Aggregate; the
    // multi-countDistinct expands rows 5× map-side instead of scanning
    // 5 times — at 100 TB one scan vs five is the whole cost). Output
    // values are engine-portable strings: longs via plain cast, doubles
    // through DECIMAL, timestamps pre-formatted to micros (so a
    // nanosecond fixture regeneration cannot skew distinct counts).
    "q95_table_profile" -> QueryDef({
      val cols = Seq("event_id", "user_id", "event_type", "value", "ts_s")
      val duckCols = cols.map { c =>
        val (minE, maxE) =
          if (c == "value")
            (s"CAST(CAST(min($c) AS DECIMAL(18,4)) AS VARCHAR)",
              s"CAST(CAST(max($c) AS DECIMAL(18,4)) AS VARCHAR)")
          else (s"CAST(min($c) AS VARCHAR)", s"CAST(max($c) AS VARCHAR)")
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  $minE AS min_s, $maxE AS max_s FROM e""".stripMargin
      }
      s"""WITH e AS (SELECT event_id, user_id, event_type, value,
         |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s FROM events)
         |${duckCols.mkString("\nUNION ALL\n")}""".stripMargin
    }) { (s, dir) =>
      // r16 opt note: a repartition barrier before this aggregate was
      // A/B-tested (the 6-way Expand partial agg runs serially on the
      // one-row-group fixture) and REVERTED: the parallel shape cost
      // 6-9× the total CPU (32 low-dedup partial hash tables + a
      // ~600k-row distinct exchange the serial partial had already
      // collapsed) for ~20% wall — a bad trade for scan-shaped
      // profiling at any core count. The serial stage is a fixture
      // artifact (one row group); real tables split.
      val e = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"))
      val cols = Seq("event_id", "user_id", "event_type", "value", "ts_s")
      def minMax(c: String, f: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        if (c == "value") f.cast("decimal(18,4)").cast("string")
        else f.cast("string")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"nn_$c"),
          count_distinct(col(c)).as(s"nd_$c"),
          minMax(c, min(col(c))).as(s"min_$c"),
          minMax(c, max(col(c))).as(s"max_$c"))
      }
      val stackArgs = cols.map(c =>
        s"'$c', n_rows, n_rows - nn_$c, nd_$c, min_$c, max_$c")
        .mkString(", ")
      e.agg(count(lit(1)).as("n_rows"), aggs: _*)
        .selectExpr(s"stack(${cols.length}, $stackArgs) AS " +
          "(col_name, n_rows, n_nulls, n_distinct, min_s, max_s)")
    }
  )
}
