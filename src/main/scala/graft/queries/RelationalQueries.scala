package graft
package queries

import graft.functions.{Sketches, TextFunctions}
import graft.operators.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Kit._
import Q._

/** Relational analytics: TPC-H style joins and aggregates, grouping sets,
  * skew handling, range and interval joins, profiles and mergeable sketches. */
private[graft] object RelationalQueries {

  /** Exact decimal sum of a <=2dp double column, returned as double. */
  private def dsum(c: org.apache.spark.sql.Column, as: String) =
    sum(c.cast("decimal(20,4)")).cast("double").as(as)

  /** Exact decimal sum of a computed per-row double: price(2dp)*(1-disc)(2dp)
    * is exactly a 4dp value, and rounding the double product at 4dp is
    * unambiguous in every engine (9-10 significant digits, far inside double
    * precision). Rounding at 8dp sat at the 13-14-significant-digit edge and
    * flipped a row's last decimal between engines at sf0.1. */
  private def dsum4(c: org.apache.spark.sql.Column, as: String) =
    sum(c.cast("decimal(24,4)")).cast("double").as(as)

  val all: Seq[Q] = Seq(
    // TPC-H Q1 shape: scan + pushdown filter + hash agg with partial combine.
    Q("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity"), "sum_qty"),
          dsum(col("l_extendedprice"), "sum_base_price"),
          dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")), "sum_disc_price"),
          count(lit(1)).as("count_order"))
    }, sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin), bench = true),

    // TPC-H Q3 shape: broadcast the small filtered dim into orders, then a
    // SHUFFLED hash join between the two fact-sized sides on orderkey,
    // building on the (customer-filtered, so smaller) orders side. The hint
    // matters twice over: (1) without it the static planner broadcasts the
    // PRUNED lineitem scan — file size x selected-column ratio drops the
    // fact table under the 10 MB threshold at small SF, a plan that is
    // catastrophic at real scale and costs a driver-side HashedRelation
    // build per run (profiled: the r06 1.54 s regression; see SCALE.md);
    // (2) the join's hash partitioning on orderkey is exactly the
    // downstream groupBy key, so the aggregation runs exchange-free — two
    // total shuffles, both data-sized, a shape that holds at 100 TB.
    Q("q3_join", (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
            .hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")), "revenue"))
    }, sql(
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey""".stripMargin), bench = true),

    // TPC-H Q5 shape: the multi-way join ladder. Region->nation->supplier
    // collapse into ONE broadcast against the fact scan; orders (date-
    // filtered) and customer join on their keys — the only data-sized
    // shuffles. The local-supplier predicate (c_nationkey = s_nationkey)
    // rides the customer join.
    Q("q5_join", (s, dir) => {
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .select("r_regionkey")
      val nat = t(s, dir, "nation")
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = t(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .select("o_orderkey", "o_custkey")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")), "revenue"))
    }, sql(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin), bench = true),

    // TPC-H Q6 shape: the pure pushdown query — every predicate (date
    // range, discount band, quantity cap) reaches the parquet scan as a
    // PushedFilter, then a scalar aggregate with map-side partials. At
    // 100 TB this reads only the row groups whose min/max footers overlap
    // the bands — the whole query is scan-bound with ZERO shuffled rows
    // beyond one partial-agg row per partition.
    Q("q6_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
          col("l_quantity") < lit(24.0))
        .agg(dsum4(col("l_extendedprice") * col("l_discount"), "revenue"))
    }, sql(
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin), bench = true),

    // Semi-join shape (TPC-H Q4 family): orders with at least one returned
    // line, counted by priority. LEFT SEMI shuffles only the join KEYS of
    // the probe side and short-circuits on first match — no fact×fact
    // row explosion, no payload duplication; the priority agg then runs on
    // the (much smaller) matched orders.
    Q("q_semi_join", (s, dir) => {
      val ord = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      val ret = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R").select("l_orderkey")
      ord.join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
    }, sql(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin), bench = true),

    // Anti-join shape (TPC-H Q22 family): customers with NO big-ticket
    // order, rolled up by segment with an exact-decimal balance sum. LEFT
    // ANTI is the scale-correct "NOT EXISTS": one keyed shuffle of
    // (custkey) vs the filtered order custkeys — never a driver-side NOT
    // IN list, and the price predicate is pushed to the orders scan.
    Q("q_anti_join", (s, dir) => {
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val ord = t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000).select("o_custkey")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal"), "sum_bal"))
    }, sql(
      """SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS sum_bal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY c_mktsegment""".stripMargin), bench = true),

    // FULL OUTER join: positive-balance customers ⟗ big-ticket order
    // aggregates — left-only rows (customers with no big order) AND
    // right-only rows (big orders of negative-balance customers) both
    // survive. One keyed shuffle each side; the agg side is partial-combined
    // before the join, so the full-outer never sees raw fact rows.
    Q("q_full_outer", (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_acctbal") >= 0)
        .select("c_custkey", "c_mktsegment")
      val ord = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), "sum_price"))
      cust.join(ord, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_mktsegment"), col("n_orders"), col("sum_price"))
    }, sql(
      """WITH c AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal >= 0),
        |o AS (SELECT o_custkey, count(*) AS n_orders,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
        |      FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey)
        |SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
        |  c.c_mktsegment, o.n_orders, o.sum_price
        |FROM c FULL JOIN o ON c.c_custkey = o.o_custkey""".stripMargin), bench = true),

    // ROLLUP hierarchy profile: (priority, status) -> priority subtotals ->
    // grand total in ONE pass — Spark expands grouping sets inside the same
    // hash aggregate (one shuffle, partial-combined), vs three separate
    // scans+aggs. Rolled-up levels surface as 'ALL' (coalesce) so the
    // cross-engine hash sees identical sentinel rows, and because the
    // grouping columns themselves are non-null the sentinel is unambiguous.
    Q("q_rollup", (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), "sum_price"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("sum_price")), sql(
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin), bench = true),

    // Arbitrary GROUPING SETS with grouping_id: the asymmetric mix
    // ((priority, status), (status), ()) neither ROLLUP's hierarchy nor
    // CUBE's full lattice expresses — same single-shuffle Expand shape.
    Q("q_grouping_sets", (s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
            Seq(col("o_orderstatus")), Seq.empty),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), "sum_price"),
          grouping_id().cast("long").as("gid"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("sum_price"), col("gid")), sql(
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price,
        |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |  (o_orderstatus), ())""".stripMargin), bench = true),

    // CUBE: all 2^k grouping sets in the same single-shuffle Expand+agg
    // shape as rollup — the one extra set here ((status) without
    // (priority)) is exactly what ROLLUP's hierarchy can't express.
    Q("q_cube", (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), "sum_price"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("sum_price")), sql(
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin), bench = true),

    // Pivot (long->wide): per-user event-type counts as columns, written as
    // EXPLICIT conditional aggregation rather than DataFrame.pivot. Both
    // need the value list known up front (pivot without one runs an extra
    // fact-table distinct just to discover the columns), but .pivot()
    // ALWAYS compiles to two exchanges — count by (user, type), then a
    // pivotfirst re-agg by user — while the conditional form is one hash
    // agg with per-column partials: a single data-sized shuffle
    // (plan-pinned in PlansSpec). The wide row is exactly the
    // feature-vector layout a training join wants.
    Q("q_pivot", (s, dir) => {
      val types = Seq("view", "click", "purchase", "signup", "error")
      val aggs = types.map(tp =>
        count(when(col("event_type") === tp, 1)).as(s"n_$tp"))
      ev(s, dir).groupBy("user_id").agg(aggs.head, aggs.tail: _*)
    }, sql(
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'view') AS n_view,
        |  count(*) FILTER (event_type = 'click') AS n_click,
        |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (event_type = 'signup') AS n_signup,
        |  count(*) FILTER (event_type = 'error') AS n_error
        |FROM events GROUP BY user_id""".stripMargin), bench = true),

    // Per-user ordered feature columns in ONE window pass: sequence number,
    // previous value (lag), running exact-decimal total, and a 3-row
    // rolling sum. All four ride the SAME (user_id, ts, event_id) sort, so
    // Spark plans one Exchange + one Sort for the lot — at 100 TB that is
    // one keyed shuffle of the events, the minimum any ordered per-user
    // feature needs. Sums accumulate in decimal (exact at 2dp inputs), so
    // frame order can't perturb the doubles the gate hashes.
    Q("q_user_features", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val dv = col("value").cast("decimal(20,4)")
      ev(s, dir).select(
        col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        row_number().over(w).as("seq"),
        lag(col("value"), 1).over(w).as("prev_value"),
        sum(dv).over(w).cast("double").as("cum_value"),
        sum(dv).over(w.rowsBetween(-2, 0)).cast("double").as("roll3_value"))
    }, sql(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  CAST(row_number() OVER w AS INTEGER) AS seq,
        |  lag(value, 1) OVER w AS prev_value,
        |  CAST(SUM(CAST(value AS DECIMAL(20,4))) OVER
        |    (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value,
        |  CAST(SUM(CAST(value AS DECIMAL(20,4))) OVER
        |    (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll3_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin), bench = true),

    // Frequency-threshold heavy hitters at 0.1% of the token stream:
    // per-partition Misra-Gries candidates (driver-bounded), then an
    // exact count of ONLY candidates behind a broadcast semi-join — the
    // shuffle shrinks from |corpus| to |candidate occurrences|, and the
    // output is exact either way (the sketch prunes, never decides).
    Q("q_heavy_hitters", (s, dir) =>
      Curation.heavyHittersByFraction(t(s, dir, "documents"),
        fracNum = 1L, fracDen = 1000L), sql(
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok WHERE token <> ''
        |GROUP BY token
        |HAVING count(*) >= greatest(1,
        |  (SELECT count(*) FROM tok WHERE token <> '') // 1000)""".stripMargin), bench = true),

    // Skew levers under oracle: the salted inner join must be row-identical
    // to the plain join (salting is a physical rewrite, not a semantic one),
    // and the salted distinct count exactly equals the plain COUNT(DISTINCT).
    Q("q_skew_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_suppkey"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      graft.ops.Skew.saltedJoin(li, sup.withColumnRenamed("s_suppkey", "l_suppkey"),
          Seq("l_suppkey"), salt = 8)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "s_name")
    }, sql(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       l_suppkey, s_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""".stripMargin), bench = true),

    Q("q_skew_distinct", (s, dir) =>
      graft.ops.Skew.saltedCountDistinct(
        ev(s, dir), "event_type", "user_id", salt = 16, outputCol = "n_users"), sql(
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin), bench = true),

    // Corpus set algebra on sketches: |A|, |B|, overlap, diffs, union of
    // the two halves' content fingerprints — no join, two theta-sketch
    // binaries. Exact below 2^lgk distinct (this regime), estimate above.
    Q("q_corpus_overlap", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.corpusOverlap(
        docs.filter(col("doc_id") % 2 === 0).select(md5(col("text")).as("fp")),
        docs.filter(col("doc_id") % 2 === 1).select(md5(col("text")).as("fp")),
        "fp", lgk = 14)
    }, sql(
      """WITH a AS (SELECT DISTINCT md5(text) AS f FROM documents WHERE doc_id % 2 = 0),
        |b AS (SELECT DISTINCT md5(text) AS f FROM documents WHERE doc_id % 2 = 1)
        |SELECT (SELECT count(*) FROM a) AS n_a,
        |  (SELECT count(*) FROM b) AS n_b,
        |  (SELECT count(*) FROM a JOIN b USING (f)) AS n_common,
        |  (SELECT count(*) FROM a ANTI JOIN b USING (f)) AS n_only_a,
        |  (SELECT count(*) FROM b ANTI JOIN a USING (f)) AS n_only_b,
        |  (SELECT count(*) FROM (SELECT f FROM a UNION SELECT f FROM b)) AS n_union""".stripMargin),
      bench = true),

    // Mergeable per-source profiles: row counts + HLL distinct estimates
    // (rows-only gate: sketch estimates are engine-specific; the merge
    // soundness — union of shard sketches == sketch of union — is
    // spec-pinned in CurationSpec).
    Q("q_profile_sketch", (s, dir) => {
      val p = Curation.sketchProfiles(t(s, dir, "documents"),
        Seq("source"), Seq("text", "lang"))
      p.select(col("source"), col("n_rows"),
        hll_sketch_estimate(col("text_sketch")).as("text_distinct_est"),
        hll_sketch_estimate(col("lang_sketch")).as("lang_distinct_est"))
    },
      unchecked("HLL distinct estimates are engine-specific sketches, not exact values"), bench = true),

    // Count-Min frequency sketch: the mergeable third member of the
    // sketch-algebra family (theta = set ops, HLL = distinct, CM =
    // frequency). Exact integer counters over portable md5 buckets, so
    // the whole sketch replays in SQL; the readout probes the top-50
    // exact tokens and carries the CM overestimate guarantee
    // (cm_est >= n_exact) as a gated column.
    // Count-Min replay: same salted-md5 buckets, exact integer counters,
    // min over the depth rows; the overestimate bound rides as a column
    Q("q_countmin", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 1)
      val exact = toks.groupBy("tok").agg(count(lit(1)).cast("long").as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok").asc).limit(50)
      val sk = Curation.countMinSketch(toks, "tok", depth = 4, width = 256)
      Curation.countMinEstimate(sk, exact, "tok", depth = 4, width = 256)
        .join(exact, Seq("tok"))
        .select(col("tok"), col("n_exact"), col("cm_est"),
          (col("cm_est") >= col("n_exact")).as("bound_ok"))
    }, sql(
      """WITH tok AS (
        |  SELECT tok FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents) WHERE length(tok) >= 1),
        |ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact FROM tok
        |       GROUP BY 1 ORDER BY n_exact DESC, tok LIMIT 50),
        |sk AS (SELECT hr, bucket, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT r.hr,
        |    CAST(('0x' || substr(md5(r.hr || ':' || tok), 1, 15))::UBIGINT % 256 AS BIGINT) AS bucket
        |  FROM tok, UNNEST(range(0, 4)) r(hr)) GROUP BY 1, 2),
        |pr AS (SELECT e.tok, r.hr,
        |  CAST(('0x' || substr(md5(r.hr || ':' || e.tok), 1, 15))::UBIGINT % 256 AS BIGINT) AS bucket
        |  FROM ex e, UNNEST(range(0, 4)) r(hr)),
        |m AS (SELECT pr.tok, CAST(min(sk.n) AS BIGINT) AS cm_est
        |      FROM pr JOIN sk USING (hr, bucket) GROUP BY 1)
        |SELECT e.tok, e.n_exact, m.cm_est, m.cm_est >= e.n_exact AS bound_ok
        |FROM ex e JOIN m USING (tok)""".stripMargin), bench = true),

    // Count-Min MERGEABILITY under the hash gate: two half-corpus sketches
    // (doc_id parity shards) merge by elementwise counter addition, and
    // the merged sketch must equal the whole-corpus build bit for bit —
    // the distributed-ingest property (shard sketches on executors, merge
    // anywhere, never re-scan). The oracle is the whole-corpus sketch.
    // the merged parity-shard sketches must equal the WHOLE-corpus build:
    // the oracle builds it from everything in one pass
    Q("q_countmin_merge", (s, dir) => {
      def toks(d: DataFrame) = d
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 1)
      val docs = t(s, dir, "documents")
      val even = Curation.countMinSketch(
        toks(docs.filter(col("doc_id") % 2 === 0)), "tok", 4, 256)
      val odd = Curation.countMinSketch(
        toks(docs.filter(col("doc_id") % 2 =!= 0)), "tok", 4, 256)
      even.unionByName(odd)
        .groupBy("row", "bucket").agg(sum(col("n")).cast("long").as("n"))
    }, sql(
      """WITH tok AS (
        |  SELECT tok FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents) WHERE length(tok) >= 1)
        |SELECT CAST(hr AS INT) AS row, bucket, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT r.hr,
        |    CAST(('0x' || substr(md5(r.hr || ':' || tok), 1, 15))::UBIGINT % 256 AS BIGINT) AS bucket
        |  FROM tok, UNNEST(range(0, 4)) r(hr)) GROUP BY 1, 2""".stripMargin)),

    // Z-order (Morton) key: the bit-interleave that clusters rows close in
    // BOTH dimensions — the per-row half of writeZordered, gated exactly.
    Q("q_zorder_key", (s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
        col("l_linenumber"),
        graft.sources.Layouts.zorderKey(
          pmod(col("l_orderkey"), lit(256)), pmod(col("l_partkey"), lit(256)))
          .as("zkey")), sql({
      def bits(c: String, off: Int) = (0 until 8)
        .map(i => s"(((($c % 256) >> $i) & 1) << ${2 * i + off})")
      val terms = (bits("l_orderkey", 0) ++ bits("l_partkey", 1)).mkString(" | ")
      s"""SELECT l_orderkey, l_partkey, l_linenumber,
         |  CAST($terms AS BIGINT) AS zkey
         |FROM lineitem""".stripMargin
    }), bench = true),

    // Hilbert-curve key: the space-filling sibling of q_zorder_key with
    // tighter locality (unit steps, no Z-jumps) — native codegen'd walk;
    // the oracle replays the same xy2d walk as a recursive CTE.
    // the xy2d Hilbert walk replayed level by level (s = 128 .. 1), the
    // rotation/reflection in the recursive step; s = 0 rows are done
    Q("q_hilbert_key", (s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
        col("l_linenumber"),
        graft.sources.Layouts.hilbertKey(
          pmod(col("l_orderkey"), lit(256)), pmod(col("l_partkey"), lit(256)))
          .as("hkey")), sql(
      """WITH RECURSIVE h AS (
        |  SELECT l_orderkey, l_partkey, l_linenumber,
        |    CAST(l_orderkey % 256 AS BIGINT) AS x,
        |    CAST(l_partkey % 256 AS BIGINT) AS y,
        |    CAST(0 AS BIGINT) AS d, CAST(128 AS BIGINT) AS s
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_partkey, l_linenumber,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN s - 1 - y ELSE y END)
        |         ELSE x END,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN s - 1 - x ELSE x END)
        |         ELSE y END,
        |    d + s * s * xor(3 * rx, ry),
        |    s // 2
        |  FROM (SELECT *,
        |          CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END AS rx,
        |          CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END AS ry
        |        FROM h WHERE s > 0) AS step)
        |SELECT l_orderkey, l_partkey, l_linenumber, d AS hkey
        |FROM h WHERE s = 0""".stripMargin), bench = true),

    // Pareto skyline on (token count, distinct-token count): the docs no
    // other doc dominates on both richness axes — two-phase distributed
    // dominance (local skylines -> one bounded final pass).
    Q("q_skyline", (s, dir) =>
      Curation.skyline(
        t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          size(array_distinct(TextFunctions.tokens(col("text"))))
            .cast("long").as("n_distinct")),
        Seq("n_tokens", "n_distinct")), sql(
      """WITH t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents))
        |SELECT doc_id, n_tokens, n_distinct FROM t a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM t b
        |  WHERE b.n_tokens >= a.n_tokens AND b.n_distinct >= a.n_distinct
        |    AND (b.n_tokens > a.n_tokens OR b.n_distinct > a.n_distinct))""".stripMargin),
      bench = true),

    // GLOBAL top-k by a quality signal WITHOUT a window (q_top_docs is the
    // per-group form): orderBy + limit plans TakeOrderedAndProject —
    // per-partition heaps + one k-row merge, the scalable global top-k
    // shape (a row_number window would sort the corpus in one task).
    // Deterministic via the id tiebreak.
    Q("q_top_global", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy(col("n_tokens").desc, col("doc_id").asc)
        .limit(50), sql(
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |FROM documents
        |ORDER BY n_tokens DESC, doc_id ASC
        |LIMIT 50""".stripMargin), bench = true),

    // Per-source rank normalization of a quality signal: percent_rank and
    // cume_dist put every source's docs on a comparable [0,1] scale (the
    // right way to mix heterogeneous quality scores before a global cut).
    // Both are exact small-integer ratios — (rank-1)/(n-1), peers/n — so
    // the doubles hash identically across engines; ties share a rank, so
    // row order within ties can't perturb the output. One keyed window
    // pass: shuffle by source, sort by the score.
    Q("q_norm_rank", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("n_tokens")
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
    }, sql(
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, source, n_tokens,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM t WINDOW w AS (PARTITION BY source ORDER BY n_tokens)""".stripMargin), bench = true),

    // Hot-key guard (the mitigation SCALE.md prescribes ahead of per-key
    // total-order ops): drop users carrying more than 80 events. The hot
    // set is one tiny keyed count; data anti-joins against it broadcast.
    // the TRUE marker (not h.user_id) carries the anti-join filter: for a
    // hot NULL key the matched h.user_id is itself NULL, so `h.user_id IS
    // NULL` would KEEP the flood — the opposite of dropHotKeys' null-safe
    // `<=>` left_anti, which drops it
    Q("q_skew_cap", (s, dir) =>
      graft.ops.Skew.dropHotKeys(
        ev(s, dir).select(col("event_id"), col("user_id")), Seq("user_id"), 80L), sql(
      """SELECT e.event_id, e.user_id
        |FROM events e
        |LEFT JOIN (SELECT user_id, TRUE AS hot FROM events
        |           GROUP BY user_id HAVING count(*) > 80) h
        |  ON e.user_id IS NOT DISTINCT FROM h.user_id
        |WHERE h.hot IS NULL""".stripMargin), bench = true),

    // One-pass column profiling (count / nulls / exact distinct per column).
    Q("q_profile", (s, dir) =>
      Curation.profile(t(s, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey")), sql(
      """SELECT 'o_orderstatus' AS col_name, count(*) AS n_rows,
        |  count(*) - count(o_orderstatus) AS n_null,
        |  count(DISTINCT o_orderstatus) AS n_distinct FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |  count(DISTINCT o_orderpriority) FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |  count(DISTINCT o_custkey) FROM orders""".stripMargin)),

    // The HLL profile variant (the 100 TB path: fixed-size sketches, no
    // value shuffle). HLL++ is deterministic for given data, so the gate
    // pins the approx distinct inside a 4×rsd band of the exact count —
    // both computed in ONE Expand+agg pass (profileWithApprox); the
    // oracle asserts the band trivially against its own exact counts.
    Q("q_profile_approx", (s, dir) =>
      Curation.profileWithApprox(t(s, dir, "orders"),
          Seq("o_orderstatus", "o_orderpriority", "o_custkey"), rsd = 0.05)
        .select(col("col_name"), col("n_rows"), col("n_null"), col("n_distinct"),
          (abs(col("n_distinct_approx") - col("n_distinct")) <=
            greatest(round(col("n_distinct") * 0.2), lit(1L))).as("within_rsd")), sql(
      """SELECT 'o_orderstatus' AS col_name, count(*) AS n_rows,
        |  count(*) - count(o_orderstatus) AS n_null,
        |  count(DISTINCT o_orderstatus) AS n_distinct, TRUE AS within_rsd
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |  count(DISTINCT o_orderpriority), TRUE FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |  count(DISTINCT o_custkey), TRUE FROM orders""".stripMargin), bench = true),

    // Native Catalyst sketch expressions (no SQL oracle — rows-only check).
    // Portable-hash variants so both sketches are DuckDB-reproducible
    // (md5-derived 60-bit simhash; rolling hash = mod-2^64 byte fold the
    // oracle reproduces with HUGEINT + list_reduce). The xxhash64 simhash
    // stays the production default (SketchesSpec covers both).
    // simhash as above; rolling_hash = Java's mod-2^64 byte fold, reproduced
    // with a HUGEINT list_reduce over the UTF-8 bytes then mapped back to the
    // signed 64-bit range.
    Q("q_sketches", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        Sketches.simhash64(TextFunctions.tokens(col("text")), portable = true).as("simhash"),
        Sketches.rollingHash(col("text")).as("rolling_hash"))
    }, sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents),
        |hv AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15))::UBIGINT AS BIGINT) AS h FROM tok),
        |votes AS (
        |  SELECT doc_id, b, SUM(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hv CROSS JOIN range(60) r(b)
        |  GROUP BY doc_id, b),
        |sigs AS (
        |  SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id),
        |roll AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
        |              THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS rolling_hash
        |  FROM (
        |    SELECT doc_id, list_reduce(
        |      list_prepend(0::HUGEINT, list_transform(range(octet_length(encode(text))),
        |        i -> (('0x' || substr(to_hex(encode(text)), CAST(i * 2 + 1 AS INTEGER), 2))::UBIGINT)::HUGEINT)),
        |      (h, b) -> (h * 1000003 + b) % 18446744073709551616::HUGEINT) AS u
        |    FROM documents))
        |SELECT s.doc_id, s.simhash, r.rolling_hash FROM sigs s JOIN roll r USING (doc_id)""".stripMargin),
      bench = true),

    // KMV distinct sketch per language: O(k) mergeable state under a
    // PUBLIC hash, so unlike the HLL row in q_profile_sketch the sketch
    // itself is oracle-exact (the k smallest distinct md5-60 values);
    // the (k-1)/kth estimator replays bit-identically in fixed op order.
    // fr has EXACTLY 64 distinct texts at sf0.01 — the just-full edge.
    // KMV sketch = the k smallest distinct md5-60 values: pure SQL replay.
    // Estimator op order mirrors the engine: (k-1)·2^60 exact in double
    // (6 significant bits), ONE division — bit-identical both sides.
    Q("q_kmv_distinct", (s, dir) => {
      val k = 64
      t(s, dir, "documents").filter(col("text").isNotNull)
        .groupBy(col("lang"))
        .agg(Sketches.kmvSketch(col("text"), k).as("sk"))
        .select(col("lang"),
          size(col("sk")).cast("long").as("n_minima"),
          // size(sk) > 0 holds here (inputs pre-filtered non-null), but the
          // guard keeps an all-null group a NULL kth instead of an
          // element_at(…, 0) runtime error
          when(size(col("sk")) > 0,
            element_at(col("sk"), least(size(col("sk")), lit(k)))).as("kth"),
          Sketches.kmvEstimate(col("sk"), k).as("est"))
    }, sql(
      """WITH h AS (
        |  SELECT DISTINCT lang,
        |    CAST(('0x' || substr(md5(text), 1, 15))::UBIGINT AS BIGINT) AS h60
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT lang, h60,
        |        row_number() OVER (PARTITION BY lang ORDER BY h60) AS rn FROM h),
        |s AS (SELECT lang, count(*) AS n_minima, max(h60) AS kth
        |      FROM r WHERE rn <= 64 GROUP BY lang)
        |SELECT lang, n_minima, kth,
        |  CASE WHEN n_minima < 64 THEN CAST(n_minima AS DOUBLE)
        |       ELSE 63.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE) END AS est
        |FROM s""".stripMargin), bench = true),

    // KMV sketch ALGEBRA: estimate the shingle-vocabulary overlap of two
    // crawl sources from their sketches alone — union = merge-and-
    // truncate, intersection via shared minima inside the union's k-set
    // (Beyer et al. 2007) — no shingle-level join between the sources.
    Q("q_kmv_setops", (s, dir) => {
      val k = 256
      val sh = t(s, dir, "documents")
        .filter(col("source").isin("src1", "src2"))
        .select(col("source"),
          explode(TextFunctions.shingleSet(col("text"), 3)).as("shingle"))
      val sk = sh.groupBy(col("source"))
        .agg(Sketches.kmvSketch(col("shingle"), k).as("sk"))
      val a = sk.filter(col("source") === "src1").select(col("sk").as("ska"))
      val b = sk.filter(col("source") === "src2").select(col("sk").as("skb"))
      a.crossJoin(b)
        .withColumn("u", Sketches.kmvMerge(col("ska"), col("skb"), k))
        .withColumn("common",
          size(array_intersect(col("u"),
            array_intersect(col("ska"), col("skb")))).cast("long"))
        .withColumn("est_union", Sketches.kmvEstimate(col("u"), k))
        .select(
          size(col("u")).cast("long").as("n_union_minima"),
          when(size(col("u")) > 0,
            element_at(col("u"), least(size(col("u")), lit(k)))).as("kth_union"),
          col("common"),
          col("est_union"),
          (col("common").cast("double") / lit(k.toDouble) * col("est_union"))
            .as("est_intersection"))
    }, sql(
      """WITH d AS (
        |  SELECT source, doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE source IN ('src1', 'src2')),
        |sh AS (
        |  SELECT DISTINCT source,
        |    CAST(('0x' || substr(md5(s), 1, 15))::UBIGINT AS BIGINT) AS h60
        |  FROM (SELECT source, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' ')))) AS s FROM d)),
        |r AS (SELECT source, h60,
        |        row_number() OVER (PARTITION BY source ORDER BY h60) AS rn FROM sh),
        |mins AS (SELECT source, h60 FROM r WHERE rn <= 256),
        |u AS (SELECT h60, count(*) AS n_sides FROM mins GROUP BY h60),
        |ur AS (SELECT h60, n_sides, row_number() OVER (ORDER BY h60) AS rn FROM u),
        |uk AS (SELECT h60, n_sides FROM ur WHERE rn <= 256),
        |agg AS (SELECT count(*) AS n_union_minima, max(h60) AS kth_union,
        |          CAST(count(*) FILTER (n_sides = 2) AS BIGINT) AS common
        |        FROM uk),
        |est AS (SELECT *,
        |          CASE WHEN n_union_minima < 256 THEN CAST(n_union_minima AS DOUBLE)
        |               ELSE 255.0 * 1152921504606846976.0 / CAST(kth_union AS DOUBLE)
        |          END AS est_union
        |        FROM agg)
        |SELECT n_union_minima, kth_union, common, est_union,
        |  CAST(common AS DOUBLE) / 256.0 * est_union AS est_intersection
        |FROM est""".stripMargin), bench = true),

    // Range (non-equi) join: events banded into value tiers. The tier
    // table is tiny and BROADCAST, so the band lookup is a scan-local
    // nested-loop against 4 rows — the correct plan for banding/bucketing
    // dimension tables at any fact scale (an equi-join can't express the
    // interval predicate; a shuffle would be pure waste).
    Q("q_range_join", (s, dir) => {
      val tiers = s.createDataFrame(Seq(
        ("t0", 0.0, 50.0), ("t1", 50.0, 150.0),
        ("t2", 150.0, 300.0), ("t3", 300.0, 1000.0)))
        .toDF("tier", "lo", "hi")
      ev(s, dir).join(broadcast(tiers),
          col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"), dsum(col("value"), "sum_value"))
    }, sql(
      """SELECT t.tier, count(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM events e
        |JOIN (VALUES ('t0', 0.0, 50.0), ('t1', 50.0, 150.0),
        |             ('t2', 150.0, 300.0), ('t3', 300.0, 1000.0)) t(tier, lo, hi)
        |  ON e.value >= t.lo AND e.value < t.hi
        |GROUP BY t.tier""".stripMargin), bench = true),

    // INTERVAL OVERLAP join — both sides genuine interval sets (user
    // sessions x purchase windows), neither expressible as as-of or
    // banding: intervals explode to 1-hour chunks, equi-join on chunk,
    // exact overlap filter, distinct over multi-chunk pairs. Shuffle is
    // span/chunk rows, per-chunk work occupancy^2 - never n^2 globally.
    // interval overlap: sessions (0-based gaps-and-islands ordinals, the
    // q_sessionize convention) x +-10min purchase windows; DuckDB's
    // IEJoin takes the non-equi form directly
    Q("q_interval_join", (s, dir) => {
      val events = ev(s, dir)
      val sess = operators.Funnel.sessionize(events, gap = "30 minutes")
        .groupBy(col("user_id"), col("session_idx"))
        .agg(min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
        .select((col("user_id") * 1000000L + col("session_idx")).as("s_id"),
          col("start_us"), col("end_us"))
      val promos = events.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"),
          (unix_micros(col("ts")) - 600000000L).as("start_us"),
          (unix_micros(col("ts")) + 600000000L).as("end_us"))
      operators.AsOfJoin.overlapJoin(sess, promos, chunk = "1 hour",
        aIdCol = "s_id", bIdCol = "p_id")
    }, sql(
      """WITH g AS (SELECT user_id, ts,
        |    epoch_us(ts) - LAG(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts) > 1800000000 AS gap_new
        |  FROM events),
        |si AS (SELECT user_id, epoch_us(ts) AS t,
        |    SUM(CASE WHEN gap_new THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |  FROM g),
        |a AS (SELECT user_id * 1000000 + sid AS s_id,
        |        min(t) AS s, max(t) AS e
        |      FROM si GROUP BY user_id, sid),
        |b AS (SELECT event_id AS p_id, epoch_us(ts) - 600000000 AS s,
        |        epoch_us(ts) + 600000000 AS e
        |      FROM events WHERE event_type = 'purchase')
        |SELECT CAST(a.s_id AS BIGINT) AS s_id, b.p_id,
        |  CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_us
        |FROM a JOIN b ON a.s <= b.e AND b.s <= a.e""".stripMargin), bench = true),

    // k-anonymity audit over generalized quasi-identifiers (lang,
    // source, 100-token length band): every equivalence class sized,
    // classes under k=5 flagged - the pre-release privacy gate; one
    // keyed partial agg.
    // k-anonymity census over the generalized quasi tuple
    Q("q_k_anon", (s, dir) =>
      Curation.kAnonymity(
        t(s, dir, "documents").select(col("lang"), col("source"),
          expr("size(split(trim(text), '\\\\s+')) div 100")
            .cast("long").as("len_band")),
        Seq("lang", "source", "len_band"), k = 5), sql(
      """WITH q AS (SELECT lang, source,
        |    len(regexp_split_to_array(trim(text), '\s+')) // 100 AS len_band
        |  FROM documents)
        |SELECT lang, source, CAST(len_band AS BIGINT) AS len_band,
        |  CAST(count(*) AS BIGINT) AS n, count(*) >= 5 AS k_anonymous
        |FROM q GROUP BY 1, 2, 3""".stripMargin), bench = true),

    // Benford first-digit audit (the fabricated-numbers screen): exact
    // leading-digit counts from the DECIMAL STRING rendering, observed
    // share vs Benford's log10(1+1/d) expectation in micros — one scan to
    // a <=9-row agg, total via a 9-row window.
    // Benford audit: identical digit extraction (first [1-9] of the
    // decimal rendering), identical division order, and the SAME
    // expectation literals the engine plans (generated from one source)
    Q("q_benford", (s, dir) =>
      Curation.benfordProfile(t(s, dir, "orders"), "o_totalprice"), sql({
      val expCase = graft.operators.Curation.benfordExpMicros
        .map { case (d, m) => s"WHEN $d THEN CAST($m AS BIGINT)" }
        .mkString(" ")
      s"""WITH f AS (SELECT regexp_extract(CAST(o_totalprice AS VARCHAR),
         |             '[1-9]', 0) AS fd FROM orders),
         |g AS (SELECT CAST(fd AS INT) AS digit, CAST(count(*) AS BIGINT) AS n
         |      FROM f WHERE fd <> '' GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g)
         |SELECT digit, n,
         |  CAST(round(CAST(n AS DOUBLE) * 1000000.0e0 / CAST(nt AS DOUBLE))
         |       AS BIGINT) AS share_micro,
         |  CASE digit $expCase END AS exp_micro
         |FROM g, t""".stripMargin
    })),

    // The first-TWO-digit Benford follow-up (Nigrini's two-digit test):
    // joint-law expectations log10(1+1/(10·d1+d2)) over prefixes 10-99,
    // extraction from the non-digit-stripped decimal rendering (sub-1
    // values route right; single-significant-digit values excluded).
    // first-two-digit test: strip non-digits, first [1-9][0-9] match,
    // joint-law literals from the same Scala source
    Q("q_benford2", (s, dir) =>
      Curation.benfordProfile2(t(s, dir, "orders"), "o_totalprice"), sql({
      val expCase = graft.operators.Curation.benfordExp2Micros
        .map { case (d, m) => s"WHEN $d THEN CAST($m AS BIGINT)" }
        .mkString(" ")
      s"""WITH f AS (SELECT regexp_extract(regexp_replace(
         |             CAST(o_totalprice AS VARCHAR), '[^0-9]', '', 'g'),
         |             '[1-9][0-9]', 0) AS fd FROM orders),
         |g AS (SELECT CAST(fd AS INT) AS digit, CAST(count(*) AS BIGINT) AS n
         |      FROM f WHERE fd <> '' GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g)
         |SELECT digit, n,
         |  CAST(round(CAST(n AS DOUBLE) * 1000000.0e0 / CAST(nt AS DOUBLE))
         |       AS BIGINT) AS share_micro,
         |  CASE digit $expCase END AS exp_micro
         |FROM g, t""".stripMargin
    }), bench = true),

    // ...and the second-digit marginal (Σ_d1 of the joint law): the
    // near-flat 12%->8.5% slope that survives unit changes.
    // second-digit marginal: same extraction, digit = the second char,
    // summed-then-rounded expectation literals from the shared source
    Q("q_benford_second", (s, dir) =>
      Curation.benfordProfileSecond(t(s, dir, "orders"), "o_totalprice"), sql({
      val expCase = graft.operators.Curation.benfordExpSecondMicros
        .map { case (d, m) => s"WHEN $d THEN CAST($m AS BIGINT)" }
        .mkString(" ")
      s"""WITH f AS (SELECT regexp_extract(regexp_replace(
         |             CAST(o_totalprice AS VARCHAR), '[^0-9]', '', 'g'),
         |             '[1-9][0-9]', 0) AS fd FROM orders),
         |g AS (SELECT CAST(substring(fd, 2, 1) AS INT) AS digit,
         |        CAST(count(*) AS BIGINT) AS n
         |      FROM f WHERE fd <> '' GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g)
         |SELECT digit, n,
         |  CAST(round(CAST(n AS DOUBLE) * 1000000.0e0 / CAST(nt AS DOUBLE))
         |       AS BIGINT) AS share_micro,
         |  CASE digit $expCase END AS exp_micro
         |FROM g, t""".stripMargin
    })),

    // Fixed-width numeric histogram: bucket index is exact integer
    // arithmetic (floor of a deterministic double division), one
    // partial-combined hash agg — the numeric-distribution profile that
    // complements the quantile sketches.
    Q("q_histogram", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi")), sql(
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
        |  count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders GROUP BY 1""".stripMargin), bench = true),
  )
}
