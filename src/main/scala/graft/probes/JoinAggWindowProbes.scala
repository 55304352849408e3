package graft.probes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Probes for SURVEY.md §2.3 (joins), §2.4 (aggregations) and §2.5
  * (window/ordinal functions). `orders ⋈ lineitem` stands in for
  * `documents ⋈ document_chunks` (FIXTURES.md role mapping).
  */
object JoinAggWindowProbes {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val all: Seq[Probe] = Seq(

    // J1/O2 — 1:N join + ordered child nesting (repository.py:58-67). The
    // child list is re-expressed as an ordered CSV so the hash compare is
    // representation-stable across engines.
    Probe(
      "j1_nested_children",
      "SELECT o_orderkey, count(*) AS n_chunks, string_agg(l_linenumber::VARCHAR, ',' ORDER BY l_linenumber) AS line_seq FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_orderkey ORDER BY o_orderkey"
    ) { (s, d) =>
      t(s, d, "orders").join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_chunks"),
          array_join(transform(array_sort(collect_list(col("l_linenumber"))),
            _.cast("string")), ",").as("line_seq"))
        .orderBy("o_orderkey")
    },

    // J2/F6/A1 — left-outer 1:N with null-safe aggregate (schema.py:44).
    Probe(
      "j2_left_outer_agg",
      "SELECT c_custkey, count(o_orderkey) AS n_orders, round(coalesce(sum(o_totalprice), 0), 2) AS total_spent FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey ORDER BY c_custkey"
    ) { (s, d) =>
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
        .orderBy("c_custkey")
    },

    // J3 — cross-store join on a computed composite key (repository.py:142-167,
    // key convention minio.py:46).
    Probe(
      "j3_computed_key_join",
      "SELECT o_orderkey, c_name FROM orders JOIN customer ON ('c/' || o_custkey) = ('c/' || c_custkey) ORDER BY o_orderkey"
    ) { (s, d) =>
      t(s, d, "orders")
        .withColumn("jk", format_string("c/%d", col("o_custkey")))
        .join(t(s, d, "customer")
          .withColumn("jk", format_string("c/%d", col("c_custkey"))), Seq("jk"))
        .select("o_orderkey", "c_name").repartition(1).sortWithinPartitions("o_orderkey")
    },

    // J4 — FK-cascade delete as left-anti (schema.py:43-44, base.py:54-66).
    Probe(
      "j4_anti_join",
      "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') ORDER BY l_orderkey, l_linenumber"
    ) { (s, d) =>
      val f = t(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"))
      t(s, d, "lineitem").join(f, Seq("l_orderkey"), "left_anti")
        .select("l_orderkey", "l_linenumber").repartition(1).sortWithinPartitions("l_orderkey", "l_linenumber")
    },

    // J5 — existence semi-join guard (api.py:110-112).
    Probe(
      "j5_semi_join_count",
      "SELECT count(*) AS cnt FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 250000)"
    ) { (s, d) =>
      val big = t(s, d, "orders").filter(col("o_totalprice") > 250000)
        .select(col("o_orderkey").as("l_orderkey"))
      t(s, d, "lineitem").join(big, Seq("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("cnt"))
    },

    // J6 — positional zip join (repository.py:313).
    Probe(
      "j6_zip_positional",
      "WITH n AS (SELECT row_number() OVER (ORDER BY n_nationkey) AS rn, n_name FROM nation), r AS (SELECT row_number() OVER (ORDER BY r_regionkey) AS rn, r_name FROM region) SELECT n.rn AS rn, n_name, r_name FROM n JOIN r ON n.rn = r.rn ORDER BY rn"
    ) { (s, d) =>
      val n = t(s, d, "nation").select(
        row_number().over(Window.orderBy("n_nationkey")).cast("long").as("rn"),
        col("n_name"))
      val r = t(s, d, "region").select(
        row_number().over(Window.orderBy("r_regionkey")).cast("long").as("rn"),
        col("r_name"))
      n.join(r, Seq("rn")).select("rn", "n_name", "r_name").orderBy("rn")
    },

    // A1 — denormalized child count (repository.py:22 total_chunks).
    Probe(
      "a1_count_children",
      "SELECT l_orderkey, count(*) AS total_chunks FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"
    ) { (s, d) =>
      t(s, d, "lineitem").groupBy("l_orderkey")
        .agg(count(lit(1)).as("total_chunks")).orderBy("l_orderkey")
    },

    // A2 — explode + group-into-buckets (pdf_parser.py:86-109 entity
    // bucketing shape, over the documents token stream).
    Probe(
      "a2_explode_group",
      "WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents) SELECT lang, count(*) AS n_tokens, count(DISTINCT token) AS n_distinct FROM tok GROUP BY lang ORDER BY lang"
    ) { (s, d) =>
      t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).as("n_distinct"))
        .orderBy("lang")
    },

    // A3/C7/C11 — whitespace token count (pdf_parser.py:197).
    Probe(
      "a3_token_count",
      "SELECT p_partkey, CAST(len(string_split(p_name, ' ')) AS BIGINT) AS token_cnt FROM part ORDER BY p_partkey"
    ) { (s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          size(split(col("p_name"), " ")).cast("long").as("token_cnt"))
        .repartition(1).sortWithinPartitions("p_partkey")
    },

    // A4 — summary counts by group (main.py:113-115).
    Probe(
      "a4_group_count",
      "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ) { (s, d) =>
      t(s, d, "orders").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt")).orderBy("o_orderstatus")
    },

    // [EXT] Misra-Gries heavy hitters (mergeable sketch Aggregator): the
    // corpus vocabulary (31 distinct tokens) sits under the sketch
    // capacity (64), where MG is provably exact — so the probe
    // hash-checks against the exact groupBy SQL while the operator
    // remains a bounded-memory sketch at any scale.
    Probe(
      "agg_topk_tokens",
      "SELECT t AS token, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents) GROUP BY t ORDER BY cnt DESC, token LIMIT 10"
    ) { (s, d) =>
      t(s, d, "documents")
        .select(explode(split(col("text"), " ", -1)).as("tok"))
        .agg(graft.functions.TopKAgg.topK(col("tok"), capacity = 64, k = 10).as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e._1").as("token"), col("e._2").as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
    },

    // [EXT] exact distinct counts (SURVEY §2.4 note).
    Probe(
      "agg_count_distinct",
      "SELECT count(DISTINCT l_partkey) AS d_parts, count(DISTINCT l_suppkey) AS d_supps FROM lineitem"
    ) { (s, d) =>
      t(s, d, "lineitem")
        .agg(countDistinct(col("l_partkey")).as("d_parts"),
          countDistinct(col("l_suppkey")).as("d_supps"))
    },

    // [EXT] HLL approximate distinct. Raw estimates are engine-specific by
    // design, so the probe outputs the CONTRACT instead: the exact counts
    // (oracled value-for-value) plus each engine's own sketch pushed
    // through the same ±5% tolerance — both engines must independently
    // land inside the bound (rsd 0.01 here leaves 5x margin), turning the
    // old rows-only probe into a dual-engine accuracy gate. Tighter
    // in-engine bounds live in SketchBoundsSpec.
    Probe(
      "agg_approx_distinct",
      "SELECT count(DISTINCT l_partkey) AS d_parts, count(DISTINCT l_suppkey) AS d_supps, " +
        "abs(approx_count_distinct(l_partkey) * 1.0 / count(DISTINCT l_partkey) - 1.0) <= 0.05 AS parts_within_5pct, " +
        "abs(approx_count_distinct(l_suppkey) * 1.0 / count(DISTINCT l_suppkey) - 1.0) <= 0.05 AS supps_within_5pct " +
        "FROM lineitem"
    ) { (s, d) =>
      // exact and sketch aggregates run as SEPARATE scans joined at one
      // row each: mixing count(DISTINCT x, y) with non-distinct aggs in a
      // single agg triggers the Expand plan (one replica per distinct
      // set), which re-feeds every replica through the HLL updates —
      // measured 13x slower than the two clean scans at sf0.1
      val li = t(s, d, "lineitem")
      val exact = li.agg(countDistinct(col("l_partkey")).as("d_parts"),
        countDistinct(col("l_suppkey")).as("d_supps"))
      val approx = li.agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("_ap"),
        approx_count_distinct(col("l_suppkey"), 0.01).as("_as"))
      exact.crossJoin(approx).select(col("d_parts"), col("d_supps"),
        (abs(col("_ap") / col("d_parts") - 1.0) <= 0.05).as("parts_within_5pct"),
        (abs(col("_as") / col("d_supps") - 1.0) <= 0.05).as("supps_within_5pct"))
    },

    // [EXT] approximate percentiles (Greenwald-Khanna sketch) — the
    // mergeable-summary path corpus statistics run at 100 TB, where exact
    // `percentile` would buffer every value per group. Raw estimates are
    // engine-specific (GK here, t-digest in the oracle), so per group the
    // probe outputs the exact p50 (oracled value-for-value) plus each
    // engine's own sketch pushed through a ±2% relative-error bound —
    // the mergeable-summary contract itself, checked in both engines.
    Probe(
      "agg_approx_percentile",
      "SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact, " +
        "abs(approx_quantile(o_totalprice, 0.5) / quantile_cont(o_totalprice, 0.5) - 1.0) <= 0.02 AS p50_within_2pct, " +
        "abs(approx_quantile(o_totalprice, 0.9) / quantile_cont(o_totalprice, 0.9) - 1.0) <= 0.02 AS p90_within_2pct " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ) { (s, d) =>
      // exact (sort-buffering) and GK (sketch) percentiles as separate
      // grouped scans joined on the 3-row status key — same reasoning as
      // agg_approx_distinct: each aggregate keeps its own optimal plan
      val o = t(s, d, "orders")
      val exact = o.groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, 0.5)").as("_e50"),
          expr("percentile(o_totalprice, 0.9)").as("_e90"))
      val approx = o.groupBy("o_orderstatus")
        .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)").as("_a50"),
          expr("approx_percentile(o_totalprice, 0.9, 1000)").as("_a90"))
      exact.join(approx, "o_orderstatus")
        .select(col("o_orderstatus"),
          round(col("_e50"), 4).as("p50_exact"),
          (abs(col("_a50") / col("_e50") - 1.0) <= 0.02).as("p50_within_2pct"),
          (abs(col("_a90") / col("_e90") - 1.0) <= 0.02).as("p90_within_2pct"))
        .orderBy("o_orderstatus")
    },

    // Flagship pricing-summary aggregate (TPC-H Q1 shape over the probe
    // tables; exercises multi-key groupBy with partial aggregation).
    Probe(
      "agg_q1_pricing_summary",
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_base, round(avg(l_discount), 4) AS avg_disc, count(*) AS cnt FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-01-01 00:00:00' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    ) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // [EXT] multi-way broadcast-chain join (supplier -> nation -> region):
    // both dimensions broadcast, so the only scan that moves is supplier.
    Probe(
      "j8_multiway_join",
      "SELECT r_name, n_name, count(*) AS n_sup, round(sum(s_acctbal), 2) AS total_bal FROM supplier JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY r_name, n_name ORDER BY r_name, n_name"
    ) { (s, d) =>
      t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_sup"), round(sum(col("s_acctbal")), 2).as("total_bal"))
        .orderBy("r_name", "n_name")
    },

    // [EXT] TPC-H Q3 shape: selective dimension filter driving a 3-way
    // join into a top-k aggregation (the plan every ad-hoc analytics
    // query wants: filter pushdown + broadcast + partial agg + TakeOrdered).
    Probe(
      "agg_q3_shipping_priority",
      "SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10"
    ) { (s, d) =>
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // [EXT] six-table star join (TPC-H Q5 shape): local-supplier revenue
    // per nation within one region and year. The dimension chain
    // (nation→region) is explicitly broadcast; the fact-side joins shuffle
    // on their keys and AQE handles the rest — the canonical "prune with
    // small dims, shuffle only facts" plan a 100 TB star query needs.
    Probe(
      "agg_q5_local_supplier",
      "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY n_name ORDER BY n_name"
    ) { (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
              col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("n_name")
    },

    // [EXT] multi-level aggregation — rollup/cube/grouping sets (absent in
    // the reference; free in the engine). DuckDB defaults to NULLS LAST,
    // Spark to NULLS FIRST — the oracle pins NULLS FIRST explicitly.
    Probe(
      "agg_rollup",
      "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS total FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority) ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"
    ) { (s, d) =>
      t(s, d, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    Probe(
      "agg_cube",
      "SELECT o_orderstatus, o_orderpriority, CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid, count(*) AS cnt FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"
    ) { (s, d) =>
      t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("cnt"))
        .select("o_orderstatus", "o_orderpriority", "gid", "cnt")
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    Probe(
      "agg_grouping_sets",
      "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"
    ) { (s, d) =>
      val v = s"orders_gs_${System.identityHashCode(s)}"
      t(s, d, "orders").createOrReplaceTempView(v)
      s.sql(s"SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM $v " +
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) " +
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST")
    },

    // [EXT] equi-join with a range residual (the shape as-of/interval joins
    // lower to; a pure range join would bucket the time axis first so the
    // join stays an equi-join on the bucket — SURVEY §2.3 note).
    Probe(
      "j7_range_join",
      "SELECT count(*) AS cnt FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 30 DAY"
    ) { (s, d) =>
      t(s, d, "lineitem").join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > expr("o_orderdate + interval 30 days"))
        .agg(count(lit(1)).as("cnt"))
    },

    // [EXT] J8 — backward as-of join (ops.AsofJoin): each purchase picks up
    // the user's most recent view at-or-before it. The oracle uses the
    // identical union+window formulation (ANSI; deterministic even under
    // timestamp ties), and timestamps compare as epoch micros.
    Probe(
      "j8_asof_join",
      "WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type = 'purchase'), r AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type = 'view'), u AS (SELECT user_id, ts, 1 AS tag, NULL::BIGINT AS ord, event_id AS lid, value AS lval, NULL::BIGINT AS rid, NULL::DOUBLE AS rval FROM l UNION ALL SELECT user_id, ts, 0, event_id, NULL, NULL, event_id, value FROM r), c AS (SELECT user_id, ts, tag, lid, lval, last_value(rid IGNORE NULLS) OVER w AS arid, last_value(rval IGNORE NULLS) OVER w AS arval FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag, ord NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) SELECT lid AS event_id, user_id, epoch_us(ts) AS ts_us, lval AS value, arid AS asof_event_id, arval AS asof_value FROM c WHERE tag = 1 ORDER BY event_id"
    ) { (s, d) =>
      val ev = t(s, d, "events")
        .select("event_id", "user_id", "ts", "value", "event_type")
      val l = ev.filter(col("event_type") === "purchase").drop("event_type")
      val r = ev.filter(col("event_type") === "view").drop("event_type")
      graft.ops.AsofJoin.asofJoin(l, r, Seq("user_id"),
          "ts", "ts", "event_id")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          col("asof_event_id"), col("asof_value"))
        .orderBy("event_id")
    },

    // W1 — ordinal assignment within parent, 0-based (repository.py:28-35).
    // l_linenumber alone is not unique within an order in the synthetic
    // data, so the window order carries (partkey, suppkey) tiebreakers to
    // stay deterministic.
    Probe(
      "w1_ordinal",
      "SELECT l_orderkey, l_linenumber, CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) - 1 AS BIGINT) AS chunk_index FROM lineitem ORDER BY l_orderkey, l_linenumber, chunk_index"
    ) { (s, d) =>
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey")
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (row_number().over(w) - 1).cast("long").as("chunk_index"))
        .orderBy("l_orderkey", "l_linenumber", "chunk_index")
    },

    // W2 — per-type running counter (pdf_parser.py:137-138,162-163).
    Probe(
      "w2_type_counter",
      "SELECT event_id, CAST(row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS BIGINT) AS type_idx FROM events ORDER BY event_id"
    ) { (s, d) =>
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
      t(s, d, "events")
        .select(col("event_id"), row_number().over(w).cast("long").as("type_idx"))
        .orderBy("event_id")
    },

    // [EXT] exact interpolated percentiles (corpus statistics).
    Probe(
      "agg_percentiles",
      "SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 4) AS p50, round(quantile_cont(o_totalprice, 0.9), 4) AS p90 FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ) { (s, d) =>
      t(s, d, "orders").groupBy("o_orderstatus")
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
        .orderBy("o_orderstatus")
    },

    // [EXT] first/last value over ordered frames.
    Probe(
      "w4_first_last_value",
      "SELECT user_id, round(first_value(value) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS first_v, round(last_value(value) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS last_v, event_id FROM events ORDER BY event_id"
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "events")
        .select(col("user_id"),
          round(first(col("value")).over(w), 2).as("first_v"),
          round(last(col("value")).over(w), 2).as("last_v"),
          col("event_id"))
        .orderBy("event_id")
    },

    // [EXT] Funnel-free dense ids (GlobalOrder.denseIds — the scheme
    // ingest's SERIAL-parity mode runs): literal-boundary buckets +
    // per-bucket window ranks must equal the oracle's global row_number
    // over the same unique key, value for value.
    Probe(
      "w5_dense_ids",
      "SELECT l_orderkey, l_linenumber, row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rid FROM lineitem ORDER BY rid"
    ) { (s, d) =>
      // phases: boundary_sample + bucket_sums (the eager pre-passes);
      // the un-attributed remainder is the stamped-window job itself
      graft.ops.GlobalOrder.denseIds(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber"),
        Seq(col("l_orderkey"), col("l_linenumber")), "rid",
        onPhase = PhaseTimer.record("w5_dense_ids", _, _))
        .orderBy("rid")
    },

    // [EXT] Skew-mitigation equivalence, oracled: the two-phase salted
    // aggregation must equal the plain GROUP BY bit for bit (salting is a
    // physical-layout trick, never a semantic one) — the oracle IS the
    // plain GROUP BY. count decomposes as count->sum, sum as sum->sum.
    Probe(
      "skew_salted_agg",
      "SELECT l_suppkey AS key, count(*) AS cnt, CAST(sum(l_quantity) AS BIGINT) AS qty FROM lineitem GROUP BY 1 ORDER BY key"
    ) { (s, d) =>
      graft.ops.Skew.saltedAggregate(t(s, d, "lineitem"),
          col("l_suppkey"), saltBuckets = 8,
          partial = Seq(count(lit(1)).as("_c"), sum("l_quantity").as("_q")),
          finalAgg = Seq(sum("_c").as("cnt"),
            sum("_q").cast("long").as("qty")))
        .orderBy("key")
    },

    // [EXT] Salted join equivalence, oracled: replicating the dimension
    // across salt buckets must reproduce the plain equi-join exactly —
    // the salt exists only to spread a hot key over tasks.
    Probe(
      "skew_salted_join",
      "SELECT l.l_orderkey, l.l_linenumber, s.s_name FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey ORDER BY l_orderkey, l_linenumber"
    ) { (s, d) =>
      val fact = t(s, d, "lineitem")
        .select(col("l_suppkey").as("k"), col("l_orderkey"), col("l_linenumber"))
      val dim = t(s, d, "supplier")
        .select(col("s_suppkey").as("k"), col("s_name"))
      graft.ops.Skew.saltedJoin(fact, dim, "k", saltBuckets = 8)
        .select("l_orderkey", "l_linenumber", "s_name")
        .repartition(1).sortWithinPartitions("l_orderkey", "l_linenumber")
    },

    // [EXT] rank / lag / framed running sum (SURVEY §2.5 note).
    Probe(
      "w3_rank_lag_framesum",
      "SELECT event_id, CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS rnk, round(coalesce(lag(value) OVER (PARTITION BY user_id ORDER BY event_id), -1), 2) AS prev_value, round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS run_sum FROM events ORDER BY event_id"
    ) { (s, d) =>
      val byVal = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
      val byId = Window.partitionBy("user_id").orderBy("event_id")
      val framed = byId.rowsBetween(-2, Window.currentRow)
      t(s, d, "events")
        .select(col("event_id"),
          rank().over(byVal).cast("long").as("rnk"),
          round(coalesce(lag(col("value"), 1).over(byId), lit(-1.0)), 2).as("prev_value"),
          round(sum(col("value")).over(framed), 2).as("run_sum"))
        .orderBy("event_id")
    }
  )
}
