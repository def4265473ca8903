package graft.functions

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType, StructField, StructType}

/** Scalar function families (SURVEY.md §2B: string, date/time, math, array,
  * map, JSON). The reference's only scalar work is a URL-unescape and an
  * int→int32 cast (convertor/convertor.go:117-121, convertor/struct.go:25);
  * this module generalizes to the full families a query engine needs.
  *
  * Every query is a single narrow projection over one table, so Catalyst
  * prunes the scan to exactly the referenced columns and the whole pipeline
  * stays inside one WholeStageCodegen stage — the shape that scales to
  * 100 TB (no shuffle, no state; pure map).
  *
  * Oracle parity notes (Spark ↔ DuckDB):
  *   - dayofweek disagrees between engines; `weekday(ts)+1` (Spark) ≡
  *     `isodow(ts)` (DuckDB, Monday=1) is used instead;
  *   - date_trunc returns TIMESTAMP in Spark, DATE in DuckDB → both sides
  *     cast to DATE;
  *   - transcendental funcs (ln/log10/sqrt) round through [[Num]] because
  *     libm results may differ in the last ulp;
  *   - float array sums promote to double BEFORE summing on both sides so
  *     the sequential IEEE fold is identical.
  */
object Scalar {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // String functions over part: case, substring, concat, split,
    // regexp extract/replace, pad/trim, levenshtein, translate, position.
    QueryDef(
      "q_str_funcs",
      """SELECT p_partkey,
        |  upper(p_name) AS name_up,
        |  lower(p_type) AS type_lo,
        |  substr(p_name, 1, 4) AS name4,
        |  p_brand || ':' || p_type AS brand_type,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  regexp_extract(p_brand, '([A-Za-z]+)#(\d+)', 2) AS brand_num,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
        |  length(p_name) AS name_len,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad,
        |  reverse(p_type) AS type_rev,
        |  levenshtein(p_brand, p_type) AS lev,
        |  translate(p_name, 'aeiou', 'AEIOU') AS name_tr,
        |  instr(p_name, 'e') AS first_e
        |FROM part""".stripMargin) { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_up"),
        lower(col("p_type")).as("type_lo"),
        substring(col("p_name"), 1, 4).as("name4"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        element_at(split(col("p_name"), " "), 1).as("first_word"),
        regexp_extract(col("p_brand"), "([A-Za-z]+)#(\\d+)", 2).as("brand_num"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devowel"),
        length(col("p_name")).as("name_len"),
        lpad(col("p_partkey").cast(StringType), 8, "0").as("key_pad"),
        reverse(col("p_type")).as("type_rev"),
        levenshtein(col("p_brand"), col("p_type")).as("lev"),
        translate(col("p_name"), "aeiou", "AEIOU").as("name_tr"),
        instr(col("p_name"), "e").as("first_e"))
    },

    // ------------------------------------------------------------------
    // Date/time functions over orders.
    QueryDef(
      "q_date_funcs",
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y,
        |  month(o_orderdate) AS m,
        |  day(o_orderdate) AS d,
        |  quarter(o_orderdate) AS q,
        |  isodow(o_orderdate) AS dow_iso,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
        |  strftime(o_orderdate, '%Y-%m') AS ym
        |FROM orders""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        (weekday(col("o_orderdate")) + 1).as("dow_iso"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        date_add(col("o_orderdate"), 30).as("plus30"),
        last_day(col("o_orderdate")).as("month_end"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate")).as("days_to_2002"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
    },

    // ------------------------------------------------------------------
    // Math functions over lineitem. Exact ops (abs/ceil/floor/mod/sign/
    // greatest/least/pow-by-2) compare raw; libm ops (sqrt/ln/log10) round
    // through Num.
    QueryDef(
      "q_math_funcs",
      s"""SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_disc,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
        |  l_orderkey % 7 AS key_mod,
        |  CAST(sign(l_tax - 0.04) AS INTEGER) AS tax_sign,
        |  greatest(l_tax, l_discount) AS g,
        |  least(l_tax, l_discount) AS l,
        |  l_quantity * l_quantity AS qty_sq,
        |  ${Num.sql("sqrt(l_extendedprice)", 6)} AS sqrt_price,
        |  ${Num.sql("ln(l_extendedprice)", 6)} AS ln_price,
        |  ${Num.sql("log10(l_extendedprice)", 6)} AS log10_price
        |FROM lineitem""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("abs_disc"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        floor(col("l_extendedprice")).as("floor_price"),
        (col("l_orderkey") % 7).as("key_mod"),
        signum(col("l_tax") - 0.04).cast("int").as("tax_sign"),
        greatest(col("l_tax"), col("l_discount")).as("g"),
        least(col("l_tax"), col("l_discount")).as("l"),
        (col("l_quantity") * col("l_quantity")).as("qty_sq"),
        Num.r(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        Num.r(log(col("l_extendedprice")), 6).as("ln_price"),
        Num.r(log10(col("l_extendedprice")), 6).as("log10_price"))
    },

    // ------------------------------------------------------------------
    // Array functions over embeddings (array<float>, the multimodal /
    // vector column). Exact element ops compare raw; the double-promoted
    // sequential fold (sum of squares) rounds through Num. Array-typed
    // output is serialized to a string (the driver's compare cannot sort
    // array columns): each element scaled to an integer via the Num
    // formula — float→string formatting differs between engines, but
    // BIGINT→string does not.
    QueryDef(
      "q_array_funcs",
      s"""SELECT vec_id,
        |  len(embedding) AS dim,
        |  embedding[1] AS first_elem,
        |  list_max(embedding) AS mx,
        |  list_min(embedding) AS mn,
        |  array_to_string(list_transform(list_slice(embedding, 1, 3),
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000e0 + 0.5) AS BIGINT)
        |         AS VARCHAR)), ',') AS head3,
        |  list_reverse(embedding)[1] AS last_elem,
        |  list_contains(embedding, 0.0::FLOAT) AS has_zero,
        |  ${Num.sql("list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))", 6)} AS sumsq
        |FROM embeddings""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("first_elem"),
        array_max(col("embedding")).as("mx"),
        array_min(col("embedding")).as("mn"),
        array_join(transform(slice(col("embedding"), 1, 3),
          x => floor(x.cast("double") * lit(1e6) + lit(0.5)).cast("string")),
          ",").as("head3"),
        element_at(reverse(col("embedding")), 1).as("last_elem"),
        array_contains(col("embedding"), 0.0f).as("has_zero"),
        Num.r(aggregate(
          transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x), 6).as("sumsq"))
    },

    // ------------------------------------------------------------------
    // Map functions: parse events.props into map<string,int>, then
    // keys/values/element_at/size. Oracle goes through DuckDB's JSON
    // functions (same observable results). The key list is sorted and
    // joined to a string: the driver's compare cannot sort array-typed
    // output, and sorting makes the value independent of JSON key order.
    QueryDef(
      "q_map_funcs",
      """SELECT event_id,
        |  array_to_string(list_sort(json_keys(props)), ',') AS ks,
        |  CAST(props->>'k' AS INTEGER) AS k_val,
        |  len(json_keys(props)) AS n_keys,
        |  CAST(props->>'k' AS INTEGER) IS NOT NULL AS has_k
        |FROM events""".stripMargin) { (s, dir) =>
      val m = from_json(col("props"), MapType(StringType, IntegerType))
      t(s, dir, "events").select(
        col("event_id"),
        array_join(array_sort(map_keys(m)), ",").as("ks"),
        element_at(m, "k").as("k_val"),
        size(map_keys(m)).as("n_keys"),
        element_at(m, "k").isNotNull.as("has_k"))
    },

    // ------------------------------------------------------------------
    // JSON functions: path extraction (string + typed), struct parse, and
    // a canonical re-serialization round-trip.
    QueryDef(
      "q_json_funcs",
      """SELECT event_id,
        |  props->>'k' AS k_str,
        |  CAST(props->>'k' AS INTEGER) AS k_int,
        |  '{"k":' || (props->>'k') || '}' AS rt,
        |  props->>'missing' IS NULL AS no_such_path
        |FROM events""".stripMargin) { (s, dir) =>
      val schema = StructType(Seq(StructField("k", IntegerType)))
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        from_json(col("props"), schema).getField("k").as("k_int"),
        to_json(from_json(col("props"), schema)).as("rt"),
        get_json_object(col("props"), "$.missing").isNull.as("no_such_path"))
    },

    // ------------------------------------------------------------------
    // VARIANT (Spark 4 semi-structured type): parse once into the binary
    // variant encoding, then typed path extraction — the 100 TB answer to
    // repeated get_json_object string re-parsing. A variant column parses
    // each value ONCE (at ingest, storable in parquet) and every
    // downstream path access is a cheap binary traversal instead of a
    // fresh JSON parse; shredded variant subcolumns additionally restore
    // columnar pruning. DuckDB has no variant type, so the oracle
    // expresses the same observable results through its JSON operators
    // (typed extraction, missing-path null, canonical re-serialization);
    // schema_of_variant's answer is fixed by the fixture (every
    // events.props value is {"k": <int>} — FIXTURES.md).
    QueryDef(
      "q_json_variant",
      """SELECT event_id,
        |  CAST(props->>'k' AS INTEGER) AS k_int,
        |  props->>'k' AS k_str,
        |  CAST(props->>'k' AS INTEGER) IS NOT NULL AS k_present,
        |  props->>'missing' IS NULL AS no_such_path,
        |  '{"k":' || (props->>'k') || '}' AS rt,
        |  'OBJECT<k: BIGINT>' AS vschema
        |FROM events""".stripMargin) { (s, dir) =>
      val v = parse_json(col("props"))
      t(s, dir, "events").select(
        col("event_id"),
        variant_get(v, "$.k", "int").as("k_int"),
        variant_get(v, "$.k", "string").as("k_str"),
        variant_get(v, "$.k", "int").isNotNull.as("k_present"),
        try_variant_get(v, "$.missing", "int").isNull.as("no_such_path"),
        to_json(v).as("rt"),
        schema_of_variant(v).as("vschema"))
    },

    // ------------------------------------------------------------------
    // Schema-drift monitoring over semi-structured data: a feed whose
    // JSON payloads drift (new field on some rows) and rot (malformed
    // on others), both injected deterministically from event_id. One
    // aggregation pass answers the three ingest-monitoring questions:
    // the MERGED schema across every parseable payload
    // (schema_of_variant_agg — the union type a shredded variant column
    // would need), how many rows drifted, and how many fail to parse at
    // all (try_parse_json null ⇒ quarantine, never a job abort). The
    // corrupt branch wins over the drift branch on overlapping ids in
    // both engines.
    QueryDef(
      "q_json_schema_drift",
      """SELECT 'OBJECT<k: BIGINT, u: STRING>' AS merged_schema,
        |  count(*) AS n_rows,
        |  count(CASE WHEN event_id % 97 <> 0 AND event_id % 100 = 0
        |             THEN 1 END) AS n_drifted,
        |  count(CASE WHEN event_id % 97 = 0 THEN 1 END) AS n_corrupt,
        |  count(CASE WHEN event_id % 97 <> 0 THEN 1 END) AS n_parsed
        |FROM events""".stripMargin) { (s, dir) =>
      val props2 = when(col("event_id") % 97 === 0, lit("not json"))
        .when(col("event_id") % 100 === 0,
          concat(lit("{\"k\": "), get_json_object(col("props"), "$.k"),
            lit(", \"u\": \"x\"}")))
        .otherwise(col("props"))
      t(s, dir, "events")
        .withColumn("v", try_parse_json(props2))
        .agg(
          schema_of_variant_agg(col("v")).as("merged_schema"),
          count(lit(1)).as("n_rows"),
          count(when(col("event_id") % 97 =!= 0 &&
            col("event_id") % 100 === 0, 1)).as("n_drifted"),
          count(when(col("event_id") % 97 === 0, 1)).as("n_corrupt"),
          count(col("v")).as("n_parsed"))
    },

    // ------------------------------------------------------------------
    // XML functions: struct → to_xml → from_xml round-trip with typed
    // field extraction, plus schema inference on the serialized form.
    // DuckDB has no XML type, so the oracle checks the round-trip
    // IDENTITY (extracted fields ≡ source columns) and the inferred
    // schema string, both fixed by construction — the same
    // cross-engine strategy as the variant query.
    QueryDef(
      "q_xml_funcs",
      """SELECT p_partkey,
        |  p_partkey AS id2,
        |  p_brand AS b2,
        |  p_partkey * 3 AS xv,
        |  CAST(p_partkey % 7 AS VARCHAR) AS xu
        |FROM part""".stripMargin) { (s, dir) =>
      // id2/b2 round-trip to_xml→from_xml and hash against the raw
      // columns; xv/xu parse element text and an attribute out of a
      // constructed document with the real xpath machinery while the
      // oracle computes the truth arithmetically — every output is an
      // exact cross-engine value, no in-plan verdict (r12 ADVICE:
      // convert verdict oracles where an exact replay is expressible).
      val sch = StructType(Seq(
        StructField("id", org.apache.spark.sql.types.LongType),
        StructField("b", StringType)))
      // from_xml/xpath instantiate a parser per call — heavy per-row CPU
      // behind a single-split scan (part is one small parquet file, so
      // the whole kernel ran as ONE 1.8 s task; r15 profile). One narrow
      // 2-column exchange spreads the parse to session width — the
      // q_ml_ransac scan-layout fix applied to a scan instead of a
      // checkpoint. Width is conf-derived (Tables.fan), never a literal.
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
        .transform(graft.Tables.fan(_, "p_partkey"))
        .select(col("p_partkey"), col("p_brand"),
          to_xml(struct(col("p_partkey").as("id"), col("p_brand").as("b")))
            .as("x"),
          concat(lit("<r><v u=\""),
            pmod(col("p_partkey"), lit(7)).cast("string"),
            lit("\">"), (col("p_partkey") * 3).cast("string"),
            lit("</v></r>")).as("x2"))
        .select(col("p_partkey"),
          from_xml(col("x"), sch).getField("id").as("id2"),
          from_xml(col("x"), sch).getField("b").as("b2"),
          expr("xpath_long(x2, '/r/v/text()')").as("xv"),
          expr("xpath_string(x2, '/r/v/@u')").as("xu"))
    },

    // ------------------------------------------------------------------
    // Collations (Spark 4): case-insensitive semantics declared on the
    // COLUMN (collate(..., 'UTF8_LCASE')) instead of smeared lower()
    // calls through every predicate. The difference matters at 100 TB:
    // a collated comparison works directly on the stored bytes inside
    // codegen, while wrapping lower() around a column defeats pushdown
    // and dictionary reuse on every touch. The fixture data is
    // single-cased, so the query first case-mangles deterministically
    // (partkey parity / mod-3) and then counts distincts and matches
    // under both binary and case-insensitive collations; DuckDB
    // expresses the same semantics via lower().
    QueryDef(
      "q_str_collate",
      """SELECT
        |  count(DISTINCT lower(mt)) AS nd_ci,
        |  count(DISTINCT mt) AS nd_cs,
        |  count(CASE WHEN contains(lower(mn), 'red') THEN 1 END) AS n_red_ci,
        |  count(CASE WHEN contains(mn, 'RED') THEN 1 END) AS n_red_cs
        |FROM (SELECT
        |  CASE WHEN p_partkey % 2 = 1 THEN lower(p_type) ELSE p_type END AS mt,
        |  CASE WHEN p_partkey % 3 = 0 THEN upper(p_name) ELSE p_name END AS mn
        |FROM part)""".stripMargin) { (s, dir) =>
      val mt = when(col("p_partkey") % 2 === 1, lower(col("p_type")))
        .otherwise(col("p_type"))
      val mn = when(col("p_partkey") % 3 === 0, upper(col("p_name")))
        .otherwise(col("p_name"))
      t(s, dir, "part").agg(
        countDistinct(collate(mt, "UTF8_LCASE")).as("nd_ci"),
        countDistinct(mt).as("nd_cs"),
        count(when(contains(collate(mn, "UTF8_LCASE"), lit("RED")), 1))
          .as("n_red_ci"),
        count(when(contains(mn, lit("RED")), 1)).as("n_red_cs"))
    },

    // ------------------------------------------------------------------
    // Bitwise surface: the bit_and/bit_or/bit_xor AGGREGATES (flag-mask
    // roll-ups — e.g. "which feature bits are set across every row of a
    // group" — all map-combinable) plus scalar shifts, masks, and xor.
    // Scalar xor/mask keep operands small so every sum stays in BIGINT
    // on both engines (DuckDB widens sum(BIGINT) to HUGEINT, so the sums
    // are CAST back on the oracle side).
    QueryDef(
      "q_bit_funcs",
      """SELECT o_orderstatus,
        |  bit_and(o_orderkey) AS all_and,
        |  bit_or(o_orderkey) AS any_or,
        |  bit_xor(o_orderkey) AS parity,
        |  CAST(sum(o_orderkey << 2) AS BIGINT) AS shl_sum,
        |  CAST(sum(o_orderkey >> 1) AS BIGINT) AS shr_sum,
        |  CAST(sum(o_orderkey & 255) AS BIGINT) AS mask_sum,
        |  CAST(sum(xor(o_orderkey, 255)) AS BIGINT) AS xor_sum,
        |  CAST(sum(CASE WHEN (o_orderkey & 1) = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS odd_cnt
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("bit_and(o_orderkey)").as("all_and"),
          expr("bit_or(o_orderkey)").as("any_or"),
          expr("bit_xor(o_orderkey)").as("parity"),
          sum(shiftleft(col("o_orderkey"), 2)).as("shl_sum"),
          sum(shiftright(col("o_orderkey"), 1)).as("shr_sum"),
          sum(col("o_orderkey").bitwiseAND(255)).as("mask_sum"),
          sum(col("o_orderkey").bitwiseXOR(255)).as("xor_sum"),
          sum(when(col("o_orderkey").bitwiseAND(1) === 1, 1L)
            .otherwise(0L)).as("odd_cnt"))
    },

    // ------------------------------------------------------------------
    // URL parsing — the provenance-curation primitive (host/domain-level
    // dedup, quota, and blocklists all key on these pieces). Documents
    // carry no URL column, so one is synthesized DETERMINISTICALLY from
    // (source, lang, doc_id) — both engines build the identical string,
    // then decompose it: Spark with the native parse_url expression
    // (HOST/PATH/QUERY/REF/PROTOCOL + keyed query-parameter lookup),
    // the oracle with equivalent regexps, so the hash match pins
    // parse_url's component semantics. The registrable domain strips
    // the subdomain from the host — the key a domain-quota actually
    // uses. Pure projection: prunes to three columns at the scan and
    // runs inside one codegen stage; at 100 TB this costs scan speed.
    QueryDef(
      "q_url_funcs",
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example.org/' || lang || '/doc/'
        |      || CAST(doc_id AS VARCHAR) || '?ref=r'
        |      || CAST(doc_id % 7 AS VARCHAR) || '#s'
        |      || CAST(doc_id % 3 AS VARCHAR) AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, url,
        |    regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
        |    regexp_extract(url, '://([^/]+)', 1) AS host,
        |    regexp_extract(url, '://[^/]+(/[^?#]*)', 1) AS path,
        |    regexp_extract(url, '\?([^#]*)', 1) AS query,
        |    regexp_extract(url, 'ref=([^&#]*)', 1) AS ref_param,
        |    regexp_extract(url, '#(.*)$', 1) AS frag
        |  FROM u)
        |SELECT doc_id, scheme, host,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
        |  path, query, ref_param, frag
        |FROM h""".stripMargin) { (s, dir) =>
      val url = concat(lit("https://"), col("source"), lit(".example.org/"),
        col("lang"), lit("/doc/"), col("doc_id").cast("string"),
        lit("?ref=r"), (col("doc_id") % 7).cast("string"),
        lit("#s"), (col("doc_id") % 3).cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          parse_url(col("url"), lit("PROTOCOL")).as("scheme"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY")).as("query"),
          parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref_param"),
          parse_url(col("url"), lit("REF")).as("frag"))
        .withColumn("domain",
          regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
        .select(col("doc_id"), col("scheme"), col("host"), col("domain"),
          col("path"), col("query"), col("ref_param"), col("frag"))
    },

    // ------------------------------------------------------------------
    // URL CANONICALIZATION for dedup — the normalizer every web-corpus
    // pipeline runs BEFORE url-level dedup/quotas/blocklists, because
    // the same page arrives as HTTPS://WWW.Example.COM:443/x?b=2&a=1
    // and https://www.example.com/x?a=1&b=2&utm_source=feed. Steps, all
    // engine builtins (no UDF): lowercase scheme+host, strip the
    // scheme-default port, drop the fragment, drop tracking params
    // (utm_*/ref= by exact prefix — LIKE's `_` wildcard is a trap),
    // sort surviving params. The fixture builds deliberately messy
    // URLs whose canonical forms COLLIDE across docs (path keyed mod
    // 50), and the output carries each doc's canonical-group size from
    // a canon-partitioned window — the dedup signal itself. Pure
    // projection + one keyed window; the canonical string is exact so
    // no rounding armor anywhere.
    QueryDef(
      "q_url_canonical",
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
        |    || '://'
        |    || (CASE doc_id % 3 WHEN 0 THEN 'WWW.Example.COM'
        |        WHEN 1 THEN 'www.example.com' ELSE 'API.site.ORG' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
        |    || '/' || lang || '/doc/' || CAST(doc_id % 50 AS VARCHAR)
        |    || '?'
        |    || (CASE WHEN doc_id % 2 = 0 THEN 'b=2&a=1' ELSE 'a=1&b=2' END)
        |    || (CASE WHEN doc_id % 3 = 0
        |        THEN '&utm_source=s' || CAST(doc_id % 5 AS VARCHAR)
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '&ref=r7' ELSE '' END)
        |    || '#s' || CAST(doc_id % 3 AS VARCHAR) AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_replace(
        |      regexp_extract(url, '://([^/?#]+)', 1), ':443$', '')) AS host,
        |    regexp_extract(url, '://[^/?#]+(/[^?#]*)', 1) AS path,
        |    list_sort(list_filter(
        |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |      q -> substr(q, 1, 4) <> 'utm_'
        |        AND substr(q, 1, 4) <> 'ref=')) AS params
        |  FROM u),
        |c AS (
        |  SELECT doc_id,
        |    scheme || '://' || host || path ||
        |      (CASE WHEN len(params) > 0
        |       THEN '?' || array_to_string(params, '&') ELSE '' END)
        |      AS canon,
        |    CAST(len(params) AS BIGINT) AS n_params,
        |    url <> (scheme || '://' || host || path ||
        |      (CASE WHEN len(params) > 0
        |       THEN '?' || array_to_string(params, '&') ELSE '' END))
        |      AS changed
        |  FROM p)
        |SELECT doc_id, canon, md5(canon) AS canon_md5, n_params, changed,
        |  count(*) OVER (PARTITION BY canon) AS n_sharing
        |FROM c""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val url =
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
          lit("://"),
          when(col("doc_id") % 3 === 0, lit("WWW.Example.COM"))
            .when(col("doc_id") % 3 === 1, lit("www.example.com"))
            .otherwise(lit("API.site.ORG")),
          when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
          lit("/"), col("lang"), lit("/doc/"),
          (col("doc_id") % 50).cast("string"),
          lit("?"),
          when(col("doc_id") % 2 === 0, lit("b=2&a=1"))
            .otherwise(lit("a=1&b=2")),
          when(col("doc_id") % 3 === 0,
            concat(lit("&utm_source=s"), (col("doc_id") % 5).cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("&ref=r7")).otherwise(lit("")),
          lit("#s"), (col("doc_id") % 3).cast("string"))
      val p = t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .withColumn("scheme",
          lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)))
        .withColumn("host",
          lower(regexp_replace(
            regexp_extract(col("url"), "://([^/?#]+)", 1), ":443$", "")))
        .withColumn("path",
          regexp_extract(col("url"), "://[^/?#]+(/[^?#]*)", 1))
        .withColumn("params", expr(
          "array_sort(filter(split(regexp_extract(url, '\\\\?([^#]*)', 1)," +
            " '&'), q -> substr(q, 1, 4) <> 'utm_'" +
            " AND substr(q, 1, 4) <> 'ref='))"))
      val canon = concat(col("scheme"), lit("://"), col("host"), col("path"),
        when(size(col("params")) > 0,
          concat(lit("?"), array_join(col("params"), "&")))
          .otherwise(lit("")))
      p.select(col("doc_id"), canon.as("canon"),
          size(col("params")).cast("long").as("n_params"),
          (col("url") =!= canon).as("changed"))
        .select(col("doc_id"), col("canon"),
          md5(col("canon").cast("binary")).as("canon_md5"),
          col("n_params"), col("changed"),
          count(lit(1)).over(Window.partitionBy(col("canon")))
            .as("n_sharing"))
    },

    // ------------------------------------------------------------------
    // Unicode normalization + accent folding over the corpus — the
    // [[UnicodeNormalize]] codegen expression vs DuckDB's
    // nfc_normalize/strip_accents builtins (semantics pinned in the
    // expression's doc). Each doc gets a deterministic multilingual
    // decoration (alternating COMPOSED and DECOMPOSED spellings of the
    // same glyphs, built from code points on both sides so no source
    // encoding is trusted); the query NFC-normalizes and accent-folds
    // mid-string, and emits byte lengths + md5s — so a normalizer that
    // recomposes wrongly, drops the wrong mark category, or touches
    // the ASCII tail hash-mismatches. Scale shape: pure per-row
    // projection inside whole-stage codegen, no shuffle at all.
    QueryDef(
      "q_text_normalize",
      """WITH d AS (
        |  SELECT doc_id,
        |    substr(text, 1, 24) || ' ' ||
        |    CASE doc_id % 6
        |      WHEN 0 THEN 'e' || chr(769)
        |      WHEN 1 THEN chr(233)
        |      WHEN 2 THEN 'u' || chr(776)
        |      WHEN 3 THEN chr(252) || chr(248)
        |      WHEN 4 THEN 'n' || chr(771) || 'A' || chr(778)
        |      ELSE chr(241) || chr(197) || 'c' || chr(807)
        |    END || 'x' AS s
        |  FROM documents)
        |SELECT doc_id,
        |  octet_length(encode(s)) AS raw_bytes,
        |  octet_length(encode(nfc_normalize(s))) AS nfc_bytes,
        |  md5(nfc_normalize(s)) AS nfc_md5,
        |  nfc_normalize(s) <> s AS composed,
        |  octet_length(encode(strip_accents(s))) AS strip_bytes,
        |  md5(strip_accents(s)) AS strip_md5
        |FROM d""".stripMargin) { (s, dir) =>
      // \u escapes, not source glyphs: composed vs decomposed spelling
      // is the thing under test, so no file encoding may decide it
      val m = col("doc_id") % 6
      val deco = when(m === 0, lit("e\u0301")) // decomposed e + acute
        .when(m === 1, lit("\u00e9")) // composed e-acute
        .when(m === 2, lit("u\u0308")) // decomposed u + diaeresis
        .when(m === 3, lit("\u00fc\u00f8")) // composed u-uml + atomic oslash
        .when(m === 4, lit("n\u0303A\u030a")) // decomposed n-tilde, A-ring
        .otherwise(lit("\u00f1\u00c5c\u0327")) // composed + c + cedilla
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 24), lit(" "), deco, lit("x"))
            .as("s"))
        .selectExpr("doc_id",
          "octet_length(CAST(s AS BINARY)) AS raw_bytes",
          "octet_length(CAST(graft_normalize(s, 'NFC') AS BINARY))" +
            " AS nfc_bytes",
          "md5(CAST(graft_normalize(s, 'NFC') AS BINARY)) AS nfc_md5",
          "graft_normalize(s, 'NFC') <> s AS composed",
          "octet_length(CAST(graft_normalize(s, 'STRIP') AS BINARY))" +
            " AS strip_bytes",
          "md5(CAST(graft_normalize(s, 'STRIP') AS BINARY)) AS strip_md5")
    }
  )
}
