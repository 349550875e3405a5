package graft.operators

import graft.Tables
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text pipeline over the `documents` table: exact dedup,
  * token/quality/language analysis (DuckDB-oracle-checked), and the
  * hash-based near-dup family (MinHash LSH, SimHash, fingerprints —
  * DuckDB lacks xxhash64, so these are gated by pinned goldens
  * (GoldenOracles, verified partition-count-invariant) with the
  * algorithm itself cross-engine-checked via the d10–d12 md5 siblings).
  */
object TextQueries {

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val stopFr = Seq("le", "la", "et", "les", "des", "un", "une", "du")
  private val stopEs = Seq("el", "los", "las", "y", "que", "en", "un", "una")
  private val stopDe = Seq("der", "die", "und", "das", "ein", "nicht", "mit", "ist")

  // r22: native CountInExpr — one codegen'd pass of UTF8String set
  // probes per row replaces the interpreted `size(filter(t IN (...)))`
  // lambda per token (value-identical; HashExprsSpec)
  private def hitCount(toks: String, ws: Seq[String]) =
    graft.functions.GraftFunctions.countIn(col(toks), ws)
  private def duckHitCount(toks: String, ws: Seq[String]) =
    "len(list_filter(" + toks + ", t -> " +
      ws.map(w => s"t = '$w'").mkString(" OR ") + "))"

  // ---- d01: exact dedup by normalized-text hash ----
  private def d01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", md5(TextOps.normText($"text").cast("binary")).as("sig"))
      .groupBy($"sig")
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
  }
  private[operators] val d01Sql =
    """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS sig,
      |  MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // ---- d02: token counting (whitespace + regex token classes) ----
  private def d02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id",
        length($"text").cast("long").as("n_chars_q"),
        TextOps.tokensOnce($"text").as("toks"))
      .select($"doc_id", $"n_chars_q",
        size($"toks").cast("long").as("n_tokens"),
        size(array_distinct($"toks")).cast("long").as("n_unique"),
        size(expr("regexp_extract_all(toks[0], '[a-z]+|[0-9]+', 0)"))
          .cast("long").as("n_first_token_parts"))
  }
  private val d02Sql =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_q,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
      |  CAST(len(regexp_extract_all(toks[1], '[a-z]+|[0-9]+')) AS BIGINT) AS n_first_token_parts
      |FROM (SELECT doc_id, text,
      |        string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |      FROM documents WHERE length(trim(text)) > 0) t""".stripMargin

  // ---- d03: quality scoring (length / punctuation / stopword ratios) ----
  private def d03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", $"text", TextOps.tokensOnce($"text").as("toks"))
      .select($"doc_id",
        length($"text").cast("long").as("n_chars_q"),
        size($"toks").cast("long").as("n_tokens"),
        (length(regexp_replace($"text", "[^.!?,;:]", "")) / length($"text"))
          .as("punct_ratio"),
        (hitCount("toks", stopEn) / size($"toks")).as("stop_ratio"),
        (graft.functions.GraftFunctions.tokLenSum(col("toks")) / size($"toks"))
          .as("avg_token_len"))
  }
  private val d03Sql =
    s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_q,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |  CAST(${duckHitCount("toks", stopEn)} AS DOUBLE) / len(toks) AS stop_ratio,
       |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len
       |FROM (SELECT doc_id, text,
       |        string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |      FROM documents WHERE length(trim(text)) > 0) t""".stripMargin

  // ---- d04: language ID by stopword-set scoring ----
  private def d04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .select($"doc_id",
        hitCount("toks", stopEn).cast("long").as("en_hits"),
        hitCount("toks", stopFr).cast("long").as("fr_hits"),
        hitCount("toks", stopEs).cast("long").as("es_hits"),
        hitCount("toks", stopDe).cast("long").as("de_hits"))
      .withColumn("predicted",
        when($"en_hits" >= $"fr_hits" && $"en_hits" >= $"es_hits" &&
          $"en_hits" >= $"de_hits", "en")
          .when($"fr_hits" >= $"es_hits" && $"fr_hits" >= $"de_hits", "fr")
          .when($"es_hits" >= $"de_hits", "es")
          .otherwise("de"))
  }
  private val d04Sql =
    s"""SELECT doc_id, en_hits, fr_hits, es_hits, de_hits,
       |  CASE WHEN en_hits >= fr_hits AND en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
       |       WHEN fr_hits >= es_hits AND fr_hits >= de_hits THEN 'fr'
       |       WHEN es_hits >= de_hits THEN 'es'
       |       ELSE 'de' END AS predicted
       |FROM (SELECT doc_id,
       |        CAST(${duckHitCount("toks", stopEn)} AS BIGINT) AS en_hits,
       |        CAST(${duckHitCount("toks", stopFr)} AS BIGINT) AS fr_hits,
       |        CAST(${duckHitCount("toks", stopEs)} AS BIGINT) AS es_hits,
       |        CAST(${duckHitCount("toks", stopDe)} AS BIGINT) AS de_hits
       |      FROM (SELECT doc_id,
       |              string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |            FROM documents WHERE length(trim(text)) > 0) x) t""".stripMargin

  // ---- d05: word-3-gram Jaccard near-dup pairs (exact, small slice) ----
  private def d05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables(s, dir, "documents")
      .filter($"doc_id" < 100)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(TextOps.shingles("toks", 3)).as("sh"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("x").join(sh.as("y"),
        $"x.sh" === $"y.sh" && $"x.doc_id" < $"y.doc_id")
      .groupBy($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select($"doc_id".as("id_a"), $"n".as("na")), "id_a")
      .join(sizes.select($"doc_id".as("id_b"), $"n".as("nb")), "id_b")
      .select($"id_a", $"id_b", $"common",
        ($"common" / ($"na" + $"nb" - $"common")).as("jaccard"))
      .filter($"common" >= 2)
  }
  private val d05Sql =
    """WITH t AS (SELECT doc_id,
      |             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |           FROM documents WHERE doc_id < 100 AND length(trim(text)) > 0),
      |     s AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |             generate_series(1, len(toks) - 2),
      |             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS sh
      |           FROM t WHERE len(toks) >= 3),
      |     sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY 1),
      |     pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS common
      |               FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |               GROUP BY 1, 2)
      |SELECT id_a, id_b, common,
      |  CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
      |FROM pairs JOIN sz sa ON pairs.id_a = sa.doc_id
      |JOIN sz sb ON pairs.id_b = sb.doc_id
      |WHERE common >= 2""".stripMargin

  // ---- d14: dedup clusters (connected components over dup pairs) ----
  // The step between near-dup PAIRS and an actually deduplicated
  // corpus: group pairs into components and elect min-id keepers.
  // Edges are the d05 exact-Jaccard pairs at >= 0.2 (SQL-reproducible,
  // so the whole clustering is oracle-checked via a DuckDB recursive
  // transitive closure); the production pipeline would feed d06's LSH
  // pairs into the same operator.
  private def d14(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir, useStar = false)

  // d21: identical contract through the alternating large-star/
  // small-star path (the O(log n)-round robustness variant) — same
  // oracle SQL as d14, so both CC algorithms are hash-gated against the
  // DuckDB recursive closure, not just spec'd equal to each other.
  private def d21(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir, useStar = true)

  private def dedupClusters(s: SparkSession, dir: String,
      useStar: Boolean): DataFrame = {
    import s.implicits._
    val edges = d05(s, dir).filter($"jaccard" >= 0.2).select($"id_a", $"id_b")
    val nodes = Tables(s, dir, "documents").filter($"doc_id" < 100)
      .select($"doc_id".as("id"))
    // maxLocalEdges = 0 pins the DISTRIBUTED engine named by the flag:
    // d14/d21 exist to hash-gate propagation and star against the
    // recursive-closure oracle (the driver union-find dispatch is
    // gated separately through v10, which runs at the default bound)
    val labels = graft.graph.ConnectedComponents.run(nodes, edges,
      useStar = useStar, maxLocalEdges = 0L)
    val sizes = labels.groupBy($"label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select($"id".as("doc_id"), $"label".as("keeper"), $"cluster_size")
  }
  private val d14Sql =
    """WITH RECURSIVE
      |  t AS (SELECT doc_id,
      |          string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |        FROM documents WHERE doc_id < 100 AND length(trim(text)) > 0),
      |  s AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |          generate_series(1, len(toks) - 2),
      |          i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS sh
      |        FROM t WHERE len(toks) >= 3),
      |  sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY 1),
      |  pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS common
      |            FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |            GROUP BY 1, 2),
      |  e AS (SELECT id_a, id_b
      |        FROM pairs JOIN sz sa ON pairs.id_a = sa.doc_id
      |                   JOIN sz sb ON pairs.id_b = sb.doc_id
      |        WHERE common >= 2
      |          AND CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.2),
      |  nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < 100),
      |  sym AS (SELECT id_a AS src, id_b AS dst FROM e
      |          UNION ALL SELECT id_b, id_a FROM e),
      |  r AS (SELECT id, id AS lab FROM nodes
      |        UNION
      |        SELECT sym.src AS id, r.lab FROM sym JOIN r ON r.id = sym.dst),
      |  lbl AS (SELECT id, min(lab) AS keeper FROM r GROUP BY id),
      |  szc AS (SELECT keeper, COUNT(*) AS cluster_size FROM lbl GROUP BY 1)
      |SELECT lbl.id AS doc_id, lbl.keeper, szc.cluster_size
      |FROM lbl JOIN szc USING (keeper)""".stripMargin

  // ---- d15: deterministic hash-based train/val/test split ----
  // The split every training pipeline needs, done the way that
  // survives scale: bucket = first md5 byte of the DOCUMENT ID, split
  // by fixed hex thresholds ('cc' = 204/256 ≈ 80%, 'e6' = 230/256 ≈
  // 90%). Pure shuffle-free projection; hash-of-id (never random())
  // means re-runs, backfills and late-arriving data always land in
  // the same split — no train/val leakage across pipeline runs — and
  // both engines compute the identical md5 hex, so the assignment is
  // exactly oracle-checked, not statistically.
  private def d15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = substring(md5($"doc_id".cast("string").cast("binary")), 1, 2)
    Tables(s, dir, "documents")
      .select($"doc_id", bucket.as("bucket"),
        when(bucket < "cc", "train")
          .when(bucket < "e6", "val")
          .otherwise("test").as("split"))
  }
  private val d15Sql =
    """SELECT doc_id,
      |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
      |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
      |         THEN 'train'
      |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
      |         THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin

  // ---- d16: sequence packing into context-length bins ----
  // Pretraining-data packing: assign documents to fixed token-budget
  // bins (greedy stream chunking — a doc opens a new bin once the
  // running total crosses the budget; docs are never split, so bins
  // may overflow by one doc, the standard packing-with-overflow
  // contract). SHARDED on purpose: the running sum is a window
  // PARTITIONED by a hash shard and ordered within it, so the packing
  // parallelizes — a single global ORDER BY window would serialize the
  // corpus through one task at 100 TB. Bins are globally identified by
  // (shard, bin); both engines compute the identical integer window
  // math, so the assignment is exactly oracle-checked.
  private val packBudget = 1024 // tokens per bin
  // the parallelism dial: each shard's running sum is inherently
  // sequential (one task), so production sets shards to O(cluster
  // cores) and bins stay (shard, bin)-identified; the fixture pins 8
  // because the shard count is part of the output contract (bin ids)
  // and the oracle must replay it exactly
  private val packShards = 8
  private def d16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables(s, dir, "documents")
      .select($"doc_id", pmod($"doc_id", lit(packShards)).as("shard"),
        size(TextOps.tokensOnce($"text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", $"shard", $"n_tokens",
        (($"cum" - $"n_tokens") / packBudget).cast("long").as("bin"))
  }
  private val d16Sql =
    s"""WITH t AS (SELECT doc_id, doc_id % $packShards AS shard,
       |  CAST(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
       |    AS BIGINT) AS n_tokens
       |FROM documents),
       |  c AS (SELECT doc_id, shard, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum FROM t)
       |SELECT doc_id, shard, n_tokens,
       |  CAST(floor(CAST(cum - n_tokens AS DOUBLE) / $packBudget) AS BIGINT) AS bin
       |FROM c""".stripMargin

  // ---- d17: TF-IDF top terms per document ----
  // Corpus-relative term salience over word trigrams (the unigram vocab
  // of the synthetic corpus is ~31 words present in every doc, which
  // would make idf constant): tf = occurrence count in the doc, smoothed
  // idf = ln((N+1)/(df+1)) + 1, top-5 terms per doc by (tfidf desc,
  // term). Scale shape — ONE corpus explode: hash agg on (doc, term)
  // (map-side partials absorb the per-doc repeats), df as a
  // partial-aggregable groupBy(term).count over the tf rows (df per
  // term = tf's row count per term) joined back on the term key —
  // NOT a COUNT window over a term partition: a boilerplate trigram
  // present in every doc makes that term's window partition
  // corpus-sized and funnels it through one task, while the agg+join
  // form partial-aggregates map-side and AQE can split the skewed
  // probe side of the join (the r14-verdict d17 finding). The df
  // branch re-derives tf from a second scan (Spark shares no
  // subtrees across join branches), so the skew safety costs one
  // extra map-side-collapsed corpus pass — the same two-pass
  // structure the oracle's CTEs spell out. N rides as
  // a broadcast scalar off the raw documents scan (no explode), and
  // the per-doc top-5 via a window PARTITIONED BY doc_id — doc_id is
  // high-cardinality and each partition is a doc's own term list.
  // Ranking uses a score whose only rounding happens on the
  // O(1)-sized idf before any multiply (see below), with the term
  // string as total tiebreak.
  private val tfidfTopN = 5
  private def d17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r19 shuffle diet: gh = xxhash64(term) is computed in the explode
    // projection and keys the df agg and the score join (8-byte longs;
    // the trigram vocabulary is corpus-proportional, so those two
    // exchanges are the big ones). The term STRING must survive to the
    // output, so it rides the tf agg as a payload column — grouping on
    // (doc_id, gh) with min(term) is value-identical under the
    // collision-free premise the string-keyed oracle checks.
    val grams = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))")).as("term"))
      .select($"doc_id", xxhash64($"term").as("gh"), $"term")
    // r22: the tf agg is SHARED across the df branch and the score
    // join through AQE runtime stage reuse, not a localCheckpoint.
    // The r15 materialization existed because "Spark shares no
    // subtrees across join branches" — but the r21 d54/d77 experiment
    // established that AQE's stage reuse DOES dedupe identical
    // exchange subtrees at runtime: both branches sit on the same
    // Exchange(doc_id, gh) over the explode+partial-agg, so the
    // corpus is scanned/exploded/partial-aggregated ONCE and only the
    // cheap post-shuffle final agg runs per branch. Dropping the
    // checkpoint removes a full write+read of the corpus-proportional
    // tf rows (guide §2.4/§5 — localCheckpoint serializes every row
    // to disk); paired d17 numbers and the executed-plan stage-reuse
    // check live in OPTIMIZATION_r22.md / plans/r22.
    val tf = grams.groupBy($"doc_id", $"gh")
      .agg(min($"term").as("term"), count(lit(1)).as("tf"))
    // N without touching the gram explode: docs with >= 3 tokens (ids
    // are unique, so countDistinct over grams degenerates to a count)
    val n = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .filter(size(TextOps.tokens($"text")) >= 3)
      .agg(count(lit(1)).as("n_docs"))
    val df = tf.groupBy($"gh").agg(count(lit(1)).as("df"))
    // cross-engine determinism: the ONE transcendental (ln) is rounded
    // to 6dp while still O(1)-sized, BEFORE the tf multiply — rounding
    // after the multiply would amplify a 1-ulp ln divergence by up to
    // tf and let it cross a rounding boundary at larger corpora. From
    // there the arithmetic is exact: DECIMAL idf × integer tf, cast to
    // double (both engines IEEE-round the identical decimal, so the
    // ranked value is bit-equal)
    // the corpus-proportional df frame joins merge-hinted (never
    // broadcast at fixture scale — the d90/d91 no-broadcast rule);
    // AQE splits the skewed probe side at scale as before
    val scored = tf.join(df.hint("merge"), "gh")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"term", $"tf",
        ($"tf" * round(log(($"n_docs" + 1.0) / ($"df" + 1.0)) + 1.0, 6)
          .cast("decimal(18,6)")).cast("double")
          .as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= tfidfTopN)
      .select($"doc_id", $"rank", $"term", $"tf", $"tfidf")
  }
  private val d17Sql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |  g AS (SELECT doc_id, unnest(list_transform(
       |      generate_series(1, len(toks) - 2),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS term
       |    FROM t WHERE len(toks) >= 3),
       |  tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM g GROUP BY 1, 2),
       |  n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM g),
       |  df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |  sc AS (SELECT tf.doc_id, tf.term, tf.tf,
       |      CAST(tf.tf * CAST(round(ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0, 6)
       |        AS DECIMAL(18,6)) AS DOUBLE) AS tfidf
       |    FROM tf JOIN df USING (term) CROSS JOIN n),
       |  r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY tfidf DESC, term) AS rn FROM sc)
       |SELECT doc_id, CAST(rn AS BIGINT) AS rank, term, tf, tfidf
       |FROM r WHERE rn <= $tfidfTopN""".stripMargin

  // ---- d18: cross-document boilerplate n-gram coverage ----
  // The RefinedWeb/CCNet-style boilerplate signal: a word 5-gram that
  // appears in >= 2 DISTINCT documents is template text (headers,
  // navigation, license blocks), and a document is scored by the
  // fraction of its distinct 5-grams that are boilerplate. Scale shape:
  // explode distinct-per-doc grams once, hash-agg gram → doc-frequency,
  // semi-join the boilerplate gram set back on the gram hash (shuffle
  // on the gram, never all-pairs), and a final per-doc hash agg. The
  // removal step of the pipeline is the same join with a NOT filter.
  private val bpMinDocs = 2
  private def d18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r19 shuffle diet (the d54/d82 gram-kernel discipline): grams are
    // hashed ONCE in the explode projection and every downstream
    // shuffle — the doc-frequency agg and the boilerplate-set join —
    // carries 8-byte longs, never 5-gram strings (~40 B each). Counts
    // over gh equal counts over the strings under the same
    // collision-free premise every hash-keyed family stands on; the
    // DuckDB oracle re-derives everything from gram STRINGS, so the
    // shared oracle doubles as the cross-hash equivalence check. The
    // boilerplate gram set is CORPUS-proportional (a ledger): its join
    // is merge-hinted so fixture-scale AQE can't broadcast a frame
    // that is GBs at 100 TB (the d90/d91 no-broadcast rule).
    //
    // r22: the gram STRINGS are never materialized at all — the
    // shingle HOF (transform + concat_ws + array_distinct over ~40 B
    // strings) is replaced by d82's codegen'd window-hash kernel,
    // whose values are IDENTICAL to xxhash64(concat_ws(' ', window))
    // (same ' '-joined byte stream, same seed 42 — GramHashesExpr
    // Scaladoc), so array_distinct over the longs is the same set the
    // string distinct produced. Per-doc counts differ only under an
    // in-document xxhash64 collision — the premise this site already
    // carried (the groupBy below always merged colliding strings).
    val sh = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 5)
      .select($"doc_id", explode(array_distinct(
        graft.functions.GraftFunctions.gramHashes($"toks", 5))).as("gh"))
    val bp = sh.groupBy($"gh").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= bpMinDocs).select($"gh")
    val nBp = sh.join(bp.hint("merge"), "gh")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_boilerplate"))
    sh.groupBy($"doc_id").agg(count(lit(1)).as("total_5grams"))
      .join(nBp, Seq("doc_id"), "left")
      .select($"doc_id", $"total_5grams",
        coalesce($"n_boilerplate", lit(0L)).as("n_boilerplate"))
      .withColumn("bp_ratio",
        round($"n_boilerplate".cast("double") / $"total_5grams", 6))
  }
  private val d18Sql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |  s AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |      generate_series(1, len(toks) - 4),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
       |           || ' ' || toks[i + 3] || ' ' || toks[i + 4]))) AS sh
       |    FROM t WHERE len(toks) >= 5),
       |  bp AS (SELECT sh FROM (SELECT sh, COUNT(*) AS n FROM s GROUP BY 1)
       |         WHERE n >= $bpMinDocs),
       |  nbp AS (SELECT doc_id, COUNT(*) AS n_boilerplate
       |          FROM s JOIN bp USING (sh) GROUP BY 1),
       |  tot AS (SELECT doc_id, COUNT(*) AS total_5grams FROM s GROUP BY 1)
       |SELECT tot.doc_id, tot.total_5grams,
       |  COALESCE(nbp.n_boilerplate, 0) AS n_boilerplate,
       |  round(CAST(COALESCE(nbp.n_boilerplate, 0) AS DOUBLE)
       |    / tot.total_5grams, 6) AS bp_ratio
       |FROM tot LEFT JOIN nbp ON tot.doc_id = nbp.doc_id""".stripMargin

  // ---- d19: deterministic stratified sampling by source ----
  // Data-mixing the way a 100 TB pipeline has to do it: per-stratum
  // keep-rates (here: high-quality sources srcN, N<5 keep 230/256 ≈
  // 90%, mid 128/256 = 50%, tail 64/256 = 25%) applied via a hash of
  // the DOCUMENT ID — never random() — so re-runs, backfills and
  // late-arriving shards always sample the same rows, and the oracle
  // can check the exact membership, not a statistic. Pure shuffle-free
  // projection + filter; composes with d15 (hash split) because d19
  // salts its hash input (doc_id || ':sample') — d15 hashes the bare
  // id — so the two keep/drop decisions are statistically independent
  // (same-byte-of-same-hash would correlate them perfectly: sampling
  // would then keep whole splits and drop others).
  private def d19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val srcnum = substring($"source", 4, 8).cast("int")
    val rate = when(srcnum < 5, 230).when(srcnum < 10, 128)
      .otherwise(64).as("rate_256")
    val bucket = graft.functions.GraftFunctions.md5Prefix(
      concat($"doc_id".cast("string"), lit(":sample")).cast("binary"), 2)
      .cast("int").as("bucket")
    Tables(s, dir, "documents")
      .select($"doc_id", $"source", bucket, rate)
      .filter($"bucket" < $"rate_256")
  }
  private val d19Sql =
    """SELECT doc_id, source, bucket, rate_256 FROM (
      |  SELECT doc_id, source,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 2)
      |      AS INT) AS bucket,
      |    CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 230
      |         WHEN CAST(substr(source, 4) AS INT) < 10 THEN 128
      |         ELSE 64 END AS rate_256
      |  FROM documents) t
      |WHERE bucket < rate_256""".stripMargin

  // ---- d20: unigram log-probability quality score ----
  // The perplexity-shaped quality signal (CCNet buckets docs by LM
  // score; the in-corpus unigram LM is its degenerate, fully
  // SQL-checkable form): p(t) = corpus count / corpus total, doc score
  // = mean log p over the doc's tokens. Scale shape: the LM is CAPPED
  // at the top-M terms by corpus count (Heaps' law makes the raw
  // whitespace vocabulary of a web corpus grow without bound — typos,
  // URLs, IDs — so broadcasting the full vocab would OOM the driver at
  // 100 TB); terms outside the cap score the OOV floor log(1/total).
  // Top-M plans as TakeOrderedAndProject (distributed partial top-k,
  // no global sort), so the only broadcasts are the M-row LM and two
  // scalar rows — bounded by construction. The per-doc mean is exact
  // cross-engine because per-term log-probs are rounded to 6 decimals,
  // lifted to DECIMAL, and summed EXACTLY (order-independent) — the
  // one double division at the end is IEEE-identical in both engines.
  private[graft] val d20VocabCap = 1000
  private def d20(s: SparkSession, dir: String): DataFrame =
    d20WithCap(s, dir, d20VocabCap)

  // cap is a dial: the oracle-gated query pins it at d20VocabCap so
  // both engines agree on the LM, but the plan shape (distributed
  // partial top-M, broadcast bounded by M) must hold at the
  // production-sized 1e5–1e6 too — PlanDisciplineSpec instantiates a
  // large-cap variant to prove the TakeOrderedAndProject survives
  private[graft] def d20WithCap(s: SparkSession, dir: String,
      cap: Int): DataFrame = {
    import s.implicits._
    val tok = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", explode(TextOps.tokensOnce($"text")).as("term"))
    val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy($"term").agg(sum($"tf").as("cnt"))
    val tot = vocab.agg(sum($"cnt").as("total"))
    // deterministic cap: ties broken by term so both engines pick the
    // identical M-term LM
    val topm = vocab.orderBy($"cnt".desc, $"term".asc).limit(cap)
    val lp = topm.crossJoin(broadcast(tot))
      .select($"term",
        round(log($"cnt".cast("double") / $"total"), 6)
          .cast("decimal(18,6)").as("logp"))
    val oov = tot.select(
      round(log(lit(1.0) / $"total"), 6)
        .cast("decimal(18,6)").as("oov_logp"))
    tf.join(broadcast(lp), Seq("term"), "left")
      .crossJoin(broadcast(oov))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_tokens"),
        sum($"tf" * coalesce($"logp", $"oov_logp"))
          .cast("double").as("sum_logp"))
      .withColumn("avg_logp", round($"sum_logp" / $"n_tokens", 6))
  }
  private val d20Sql =
    s"""WITH t AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |  g AS (SELECT doc_id, unnest(toks) AS term FROM t),
      |  tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM g GROUP BY 1, 2),
      |  vocab AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY 1),
      |  tot AS (SELECT SUM(cnt) AS total FROM vocab),
      |  topm AS (SELECT term, cnt FROM (
      |      SELECT term, cnt,
      |        row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk
      |      FROM vocab) WHERE rk <= $d20VocabCap),
      |  lp AS (SELECT term,
      |      CAST(round(ln(CAST(cnt AS DOUBLE) / total), 6) AS DECIMAL(18,6))
      |        AS logp
      |    FROM topm CROSS JOIN tot),
      |  oov AS (SELECT CAST(round(ln(1.0 / total), 6) AS DECIMAL(18,6))
      |      AS oov_logp FROM tot),
      |  agg AS (SELECT tf.doc_id, SUM(tf.tf) AS n_tokens,
      |      CAST(SUM(tf.tf * COALESCE(lp.logp, oov.oov_logp)) AS DOUBLE)
      |        AS sum_logp
      |    FROM tf LEFT JOIN lp USING (term) CROSS JOIN oov GROUP BY 1)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, sum_logp,
      |  round(sum_logp / n_tokens, 6) AS avg_logp
      |FROM agg""".stripMargin

  // ---- xxhash64-based production paths (pinned-golden gated) ----

  private def d06MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 3)
    val k = 32
    // one fused tokens→minhash projection (no shingle-string array),
    // shared by banding and Jaccard estimation
    val sigs = docs
      .withColumn("sig", TextOps.minhashOfShingles("toks", 3, k))
      .select($"doc_id", $"sig")
    val cands = TextOps.lshCandidates(sigs, "doc_id", k, bands = 8)
    TextOps.estimateJaccard(cands, sigs, "doc_id", k)
      .filter($"est_jaccard" >= 0.2)
  }

  private def d07Simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 1)
      .select($"doc_id", TextOps.simhash64("toks").as("simhash"))
    // near-dup pairs: 4 bands × 16-bit blocking (a pair within hamming
    // ≤ 12 that spreads its differing bits still matches a band with
    // high probability; single-prefix bucketing both misses those and
    // goes quadratic inside its 65k buckets at corpus scale)
    val b = h.select($"doc_id", $"simhash",
      explode(TextOps.simhashBands($"simhash", bands = 4)).as("code"))
    b.as("x").join(b.as("y"),
        $"x.code" === $"y.code" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
        TextOps.hamming64($"x.simhash", $"y.simhash").as("hamming"))
      .filter($"hamming" <= 12)
      .distinct()
  }

  private def d08Fingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprints(Tables(s, dir, "documents"), "doc_id", "text")

  // ---- d10–d12: md5 siblings of the xxhash64 near-dup family ----
  // The production paths (d06/d07/d08) hash with xxhash64, which DuckDB
  // cannot reproduce, so their driver gates are pinned goldens. These
  // variants run the SAME banding/blocking/fingerprint logic with an
  // md5-derived hash both engines compute identically — so the LSH
  // plumbing (band slicing, bucket join, slot-agreement estimate,
  // bit-band blocking, hamming verify) is end-to-end oracle-checked.
  // md5 hex strings are lowercase fixed-width in both engines, so
  // lexicographic min/max = numeric min/max.

  private val mhK = 16 // minhash slots (md5 variant)
  private val mhBands = 4
  // d10/d11 are oracle slices (like d05 for d06): interpreted md5/bit
  // HOFs cost ~7 ms/doc, so the checked universe is capped at the
  // sf0.01 gate's document universe; the unbounded production paths
  // remain d06/d07 (native xxhash64 expressions)
  private[operators] val oracleSliceN = 300

  /** md5-minhash signatures (the d10 oracle-family hash): pure column
    * ops, so the same expression tree runs over a batch scan OR a
    * document readStream (s09). Input needs (doc_id, text). */
  private[operators] def mhSigs(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokensOnce(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", TextOps.shingles("toks", 3))
      // native md5-minhash kernel (r22, VERDICT r21 next 2): one
      // codegen'd pass per row instead of the interpreted nested HOF
      // `transform(sequence(0, k-1), i -> array_min(transform(sh, x ->
      //   md5(...))))` — value-identical (Md5MinhashExpr Scaladoc +
      // HashExprsSpec), same oracle-shared md5 coin
      .select(col("doc_id"),
        graft.functions.GraftFunctions.md5Minhash(col("sh"), mhK).as("sig"))

  /** Banded bucket codes from signatures: (doc, band, bucket) — also a
    * stateless projection, streamable. */
  private[operators] def mhBandedOf(sigs: DataFrame): DataFrame = {
    val r = mhK / mhBands
    sigs.select(col("doc_id").as("doc"), posexplode(expr(
      s"""transform(sequence(0, ${mhBands - 1}), b ->
         |  md5(cast(concat(cast(b as string), '|',
         |    concat_ws('|', slice(sig, b * $r + 1, $r))) as binary)))"""
        .stripMargin)).as(Seq("band", "bucket")))
  }

  /** Band-match rollup → (id_a, id_b, n_bands, est_jaccard ≥ 0.2):
    * shared by batch d10 and the streamed s09 (which lands raw band
    * matches in the sink and rolls them up here). */
  private[operators] def mhPairsRollup(bandMatches: DataFrame,
      sigs: DataFrame): DataFrame = {
    val cands = bandMatches
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_bands"))
    TextOps.estimateJaccard(cands, sigs, "doc_id", mhK)
      .filter(col("est_jaccard") >= 0.2)
      .select(col("id_a"), col("id_b"), col("n_bands"), col("est_jaccard"))
  }

  /** The oracle slice both d10 and its streamed sibling s09 run over. */
  private[operators] def mhSliceSigs(s: SparkSession, dir: String): DataFrame =
    mhSigs(Tables(s, dir, "documents").filter(col("doc_id") < oracleSliceN))

  /** s09 decomposition probes (r21, VERDICT r20 next 3): the streamed
    * LSH pair finder's batch-expressible legs — the signature+banding
    * projection alone, and the full banded self-join (projection +
    * join, no rollup). The stream marginal minus these is the
    * symmetric-hash-join state machinery itself (the s04 pattern). */
  private[graft] def s09BandedProjection(s: SparkSession, dir: String)
      : DataFrame =
    mhBandedOf(mhSliceSigs(s, dir))
  private[graft] def s09BatchJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val banded = mhBandedOf(mhSliceSigs(s, dir))
    banded.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.bucket" === $"y.bucket" &&
        $"x.doc" < $"y.doc")
      .select($"x.doc".as("id_a"), $"y.doc".as("id_b"))
  }

  private def d10MinhashMd5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = mhSliceSigs(s, dir)
    val banded = mhBandedOf(sigs)
    val matches = banded.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.bucket" === $"y.bucket" &&
        $"x.doc" < $"y.doc")
      .select($"x.doc".as("id_a"), $"y.doc".as("id_b"))
    mhPairsRollup(matches, sigs)
  }
  private[operators] val d10Sql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE doc_id < $oracleSliceN AND length(trim(text)) > 0),
       |  s AS (SELECT doc_id, list_distinct(list_transform(
       |      generate_series(1, len(toks) - 2),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
       |    FROM t WHERE len(toks) >= 3),
       |  sig AS (SELECT doc_id, list_transform(generate_series(0, ${mhK - 1}),
       |      i -> list_min(list_transform(sh,
       |        x -> md5(CAST(i AS VARCHAR) || ' ' || x)))) AS sig
       |    FROM s),
       |  banded AS (SELECT doc_id, b.range AS band,
       |      md5(CAST(b.range AS VARCHAR) || '|' || array_to_string(
       |        sig[b.range * ${mhK / mhBands} + 1 : b.range * ${mhK / mhBands} + ${mhK / mhBands}], '|')) AS bucket
       |    FROM sig CROSS JOIN range($mhBands) b),
       |  cand AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_bands
       |    FROM banded x JOIN banded y
       |      ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |    GROUP BY 1, 2)
       |SELECT c.id_a, c.id_b, c.n_bands,
       |  CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |    p -> p[1] = p[2])) AS DOUBLE) / $mhK AS est_jaccard
       |FROM cand c JOIN sig sa ON c.id_a = sa.doc_id
       |JOIN sig sb ON c.id_b = sb.doc_id
       |WHERE CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |    p -> p[1] = p[2])) AS DOUBLE) / $mhK >= 0.2""".stripMargin

  private def d11SimhashMd5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 32-bit simhash from the first 8 md5 nibbles per token: bit b set
    // iff Σ_tokens (±1 by token-bit b) > 0 — same sign rule and band
    // blocking as d07, at a width both engines can bit-slice; 8-bit
    // bands keep bucket fan-in sub-quadratic (256 buckets per band).
    // Shape: the sign sum for bit b over T tokens with c_b set bits is
    // 2*c_b - T, so one codegen'd explode + hash-agg (32 integer sums
    // with map-side partials, collapsing to one row per doc) replaces
    // the 32 interpreted folds the HOF form ran per document — exact
    // integers end-to-end, identical bits. A doc here always has ≥ 1
    // token (nonempty trimmed text), so explode drops nothing.
    val tokenBits = Tables(s, dir, "documents")
      .filter($"doc_id" < oracleSliceN)
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", explode(TextOps.tokensOnce($"text")).as("t"))
      .select($"doc_id",
        expr("cast(conv(substr(md5(cast(t as binary)), 1, 8), 16, 10) as bigint)").as("v"))
    val bitCols = (0 until 32).map(b =>
      sum(shiftright($"v", b).bitwiseAND(lit(1L))).as(s"c$b"))
    val h = tokenBits
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), bitCols: _*)
      .select($"doc_id",
        (0 until 32).map(b =>
            when(lit(2L) * col(s"c$b") - $"n" > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    val b = h.select($"doc_id", $"simhash", explode(array((0 until 4).map { i =>
      (shiftright($"simhash", i * 8).bitwiseAND(lit(255L)) + lit(i.toLong * 256))
    }: _*)).as("code"))
    b.as("x").join(b.as("y"),
        $"x.code" === $"y.code" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
        TextOps.hamming64($"x.simhash", $"y.simhash").as("hamming"))
      .filter($"hamming" <= 3)
      .distinct()
  }
  private val d11Sql =
    """WITH t AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents WHERE doc_id < 300 AND length(trim(text)) > 0),
      |  v AS (SELECT doc_id, list_transform(toks,
      |      t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS vals
      |    FROM t),
      |  h AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 31),
      |      b -> CASE WHEN list_sum(list_transform(vals,
      |          v -> ((v >> b) & 1) * 2 - 1)) > 0
      |        THEN 1 << b ELSE 0 END)) AS BIGINT) AS simhash
      |    FROM v),
      |  b AS (SELECT doc_id, simhash, ((simhash >> (i.range * 8)) & 255) + i.range * 256 AS code
      |    FROM h CROSS JOIN range(4) i)
      |SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
      |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
      |FROM b x JOIN b y ON x.code = y.code AND x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin

  private def d12FingerprintMd5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 3)
      // r22: native one-pass min/max md5 fold — the shingle-string
      // array and the TWO interpreted HOF md5 passes never
      // materialize (min/max are duplicate-insensitive so the
      // distinct step drops; digests compare in byte order ≡ hex
      // order — Md5MinMaxExpr Scaladoc, HOF-pinned in HashExprsSpec).
      // opaque: the struct is consumed twice below — bars
      // CollapseProject from inlining the fold into both field
      // extractions (§4.4, the v34 whitening-chain pattern).
      .withColumn("mm", graft.functions.GraftFunctions.opaque(
        graft.functions.GraftFunctions.md5MinMax($"toks", 3)))
      .select($"doc_id",
        md5(concat_ws(" ", $"toks").cast("binary")).as("full_fp"),
        $"mm.mn".as("min_shingle_fp"),
        $"mm.mx".as("max_shingle_fp"))
  }
  private val d12Sql =
    """WITH t AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |  s AS (SELECT doc_id, toks, list_distinct(list_transform(
      |      generate_series(1, len(toks) - 2),
      |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
      |    FROM t WHERE len(toks) >= 3)
      |SELECT doc_id, md5(array_to_string(toks, ' ')) AS full_fp,
      |  list_min(list_transform(sh, t -> md5(t))) AS min_shingle_fp,
      |  list_max(list_transform(sh, t -> md5(t))) AS max_shingle_fp
      |FROM s""".stripMargin

  // ---- d09: end-to-end curation pipeline (oracle-checked) ----
  // The composed shape a training-data run actually executes: normalize
  // → tokenize → quality gate → exact-dedup (keep lowest doc_id) → per
  // source corpus stats. One scan, two hash aggs; every stage pushes
  // into the one projection, so at 100 TB this is scan-bound.
  private def d09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", $"source", $"text", TextOps.tokensOnce($"text").as("toks"))
      .select($"doc_id", $"source",
        md5(TextOps.normText($"text").cast("binary")).as("sig"),
        // opaque ALIASES (guide §4.4): the quality battery's derived
        // columns are otherwise substituted into the pushed-down Filter
        // below and computed twice per row (tokenize + regexp + fold)
        graft.functions.GraftFunctions.opaque(
          size($"toks").cast("long")).as("n_tokens"),
        graft.functions.GraftFunctions.opaque(
          length(regexp_replace($"text", "[^.!?,;:]", "")) / length($"text"))
          .as("punct_ratio"),
        graft.functions.GraftFunctions.opaque(
          graft.functions.GraftFunctions.tokLenSum(col("toks")) / size($"toks"))
          .as("avg_token_len"))
      .filter($"n_tokens" >= 10 && $"punct_ratio" < 0.2 &&
        $"avg_token_len".between(2.0, 12.0))
    val kept = scored
      .groupBy($"sig")
      .agg(min_by(struct($"doc_id", $"source", $"n_tokens"), $"doc_id").as("m"),
        count(lit(1)).as("n_copies"))
      .select($"m.source".as("source"), $"m.n_tokens".as("n_tokens"),
        $"n_copies")
    kept.groupBy($"source")
      .agg(count(lit(1)).as("kept_docs"),
        sum($"n_copies").as("total_copies"),
        sum($"n_tokens").as("sum_tokens"),
        round(avg($"n_tokens"), 6).as("avg_tokens"))
  }
  private val d09Sql =
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS sig,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
      |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len
      |  FROM (SELECT doc_id, source, text,
      |          string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |        FROM documents WHERE length(trim(text)) > 0) t),
      |  gated AS (SELECT * FROM scored
      |            WHERE n_tokens >= 10 AND punct_ratio < 0.2
      |              AND avg_token_len BETWEEN 2.0 AND 12.0),
      |  kept AS (
      |    SELECT arg_min(source, doc_id) AS source,
      |           arg_min(n_tokens, doc_id) AS n_tokens,
      |           COUNT(*) AS n_copies
      |    FROM gated GROUP BY sig)
      |SELECT source, COUNT(*) AS kept_docs, CAST(SUM(n_copies) AS BIGINT) AS total_copies,
      |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens, round(AVG(n_tokens), 6) AS avg_tokens
      |FROM kept GROUP BY source""".stripMargin

  // ---- d13: intra-document repetition ratio (quality signal) ----
  // The Gopher/RefinedWeb-style curation metric: the fraction of a
  // document's word 5-grams that are repeats of an earlier 5-gram
  // (1 − distinct/total). Pure per-row projection — no explode, no
  // shuffle; the n-gram sets stay inside one codegen'd transform.
  private def d13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 5)
      .select($"doc_id",
        (size($"toks") - 4).cast("long").as("total_5grams"),
        // r22: exact native distinct-window count — no gram-string
        // array, no collision premise (hash-equal windows compare
        // token-by-token; GramDistinctCountExpr Scaladoc, HOF-pinned
        // in HashExprsSpec)
        graft.functions.GraftFunctions.gramDistinctCount($"toks", 5)
          .cast("long").as("distinct_5grams"))
      .withColumn("rep_ratio",
        lit(1.0) - $"distinct_5grams".cast("double") / $"total_5grams")
  }
  private val d13Sql =
    """WITH t AS (SELECT doc_id,
      |             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |           FROM documents WHERE length(trim(text)) > 0),
      |     f AS (SELECT doc_id,
      |             CAST(len(toks) - 4 AS BIGINT) AS total_5grams,
      |             CAST(len(list_distinct(list_transform(
      |               generate_series(1, len(toks) - 4),
      |               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
      |                    || ' ' || toks[i + 3] || ' ' || toks[i + 4]))) AS BIGINT)
      |               AS distinct_5grams
      |           FROM t WHERE len(toks) >= 5)
      |SELECT doc_id, total_5grams, distinct_5grams,
      |  1.0 - CAST(distinct_5grams AS DOUBLE) / total_5grams AS rep_ratio
      |FROM f""".stripMargin

  // ---- d22: PII scrub (email / IPv4 / phone redaction) ----
  // The redaction pass every public-web training pipeline runs before
  // tokenization. Pure codegen'd projection — regexp count + chained
  // regexp_replace — so it composes with the d09 curation gate at zero
  // shuffle cost. The synthetic corpus contains no natural PII, so the
  // query first derives a DETERMINISTIC contact line from doc_id
  // (both engines construct the identical string); the oracle then
  // checks actual redaction arithmetic and the scrubbed text's md5,
  // not a vacuous all-zero count.
  private val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val piiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val piiPhoneRe = "\\b\\d{3}-\\d{4}\\b"
  private def d22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = concat($"text",
      lit(" contact user"), $"doc_id".cast("string"),
      lit("@mail.example.com ip 10."),
      pmod($"doc_id", lit(256)).cast("string"), lit(".0.1 phone 555-"),
      lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0"))
    Tables(s, dir, "documents")
      .select($"doc_id", raw.as("raw"))
      .select($"doc_id",
        regexp_count($"raw", lit(piiEmailRe)).cast("long").as("n_emails"),
        regexp_count($"raw", lit(piiIpRe)).cast("long").as("n_ips"),
        regexp_count($"raw", lit(piiPhoneRe)).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(regexp_replace($"raw",
          piiEmailRe, "<EMAIL>"), piiIpRe, "<IP>"), piiPhoneRe, "<PHONE>")
          .cast("binary")).as("scrub_md5"))
  }
  private val d22Sql =
    """WITH r AS (SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR)
      |      || '@mail.example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR)
      |      || '.0.1 phone 555-'
      |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(raw,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(raw,
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
      |  CAST(len(regexp_extract_all(raw,
      |    '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
      |  md5(regexp_replace(regexp_replace(regexp_replace(raw,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |    '\b\d{3}-\d{4}\b', '<PHONE>', 'g')) AS scrub_md5
      |FROM r""".stripMargin

  // ---- d23: benchmark-contamination screen ----
  // The eval-set decontamination check (GPT-3/PaLM-style n-gram
  // overlap): the "benchmark" is the distinct 5-gram set of a held-out
  // doc slice (doc_id < 20); every remaining doc is scored by the
  // fraction of its distinct 5-grams that collide with it. Scale shape
  // is d18's: one explode, gram-key semi-join (the eval gram set also
  // broadcasts when small), per-doc hash agg — never all-pairs, and a
  // removal pass is the same join with the filter inverted.
  private def d23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 5)
      .select($"doc_id", explode(TextOps.shingles("toks", 5)).as("sh"))
    val evalSet = sh.filter($"doc_id" < 20).select($"sh").distinct()
      .withColumn("hit", lit(1L))
    // one gram-key left join + one per-doc agg: the eval set is
    // distinct on sh, so the join is row-preserving and total/hit
    // counts fold in a single pass (the semi-join + second rollup form
    // re-scanned the exploded grams)
    sh.filter($"doc_id" >= 20)
      .join(evalSet, Seq("sh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("total_5grams"),
        sum(coalesce($"hit", lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        round($"n_contaminated".cast("double") / $"total_5grams", 6))
  }
  private val d23Sql =
    """WITH t AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |  s AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |      generate_series(1, len(toks) - 4),
      |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
      |           || ' ' || toks[i + 3] || ' ' || toks[i + 4]))) AS sh
      |    FROM t WHERE len(toks) >= 5),
      |  ev AS (SELECT DISTINCT sh FROM s WHERE doc_id < 20),
      |  rest AS (SELECT * FROM s WHERE doc_id >= 20),
      |  hits AS (SELECT doc_id, COUNT(*) AS n_contaminated
      |           FROM rest JOIN ev USING (sh) GROUP BY 1),
      |  tot AS (SELECT doc_id, COUNT(*) AS total_5grams FROM rest GROUP BY 1)
      |SELECT tot.doc_id, tot.total_5grams,
      |  COALESCE(hits.n_contaminated, 0) AS n_contaminated,
      |  round(CAST(COALESCE(hits.n_contaminated, 0) AS DOUBLE)
      |    / tot.total_5grams, 6) AS contamination
      |FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id""".stripMargin

  // ---- d24: deterministic global shuffle order for training ----
  // Pretraining needs a reproducible random-looking data order. Done
  // the way that survives 100 TB: shard = md5 byte of the (epoch-
  // salted) doc id, position WITHIN the shard by the full hash — a
  // window partitioned by shard (d16's no-global-sort discipline).
  // (shard, pos) IS the global order: consumers read shards in index
  // order, so no rangepartitioning/total sort ever runs. Hash-of-id
  // (never random()) means re-runs and backfills reproduce the exact
  // order, and a different epoch salt reshuffles without touching the
  // data. Every assignment is oracle-exact, not statistical.
  private val shuffleShards = 16
  private def d24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one digest per row and no hex anywhere (VERDICT r19 next 6):
    // hk = md5's 32 nibbles as [15,15,2]-nibble longs, whose array
    // order IS the hex string's lexicographic order — so the window
    // sorts 8-byte limbs while the ORACLE keeps ordering by the same
    // md5's hex rendering, bit-for-bit. The shard is the digest's
    // first two nibbles, read from hk[0]'s top bits (15 nibbles = 60
    // bits; >> 52 leaves the leading 8).
    val hk = graft.functions.GraftFunctions.md5SortKey(
      concat($"doc_id".cast("string"), lit(":ep1")).cast("binary"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"hk", $"doc_id")
    Tables(s, dir, "documents")
      .select($"doc_id", hk.as("hk"))
      .withColumn("shard",
        pmod(shiftright(element_at($"hk", 1), 52).cast("int"),
          lit(shuffleShards)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"doc_id", $"shard", $"pos")
  }
  private val d24Sql =
    s"""SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
       |    AS BIGINT) AS pos
       |FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':ep1') AS h,
       |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ep1'), 1, 2)
       |          AS INT) % $shuffleShards AS shard
       |      FROM documents) t""".stripMargin

  // ---- d25: token-window exact substring dedup (chunk keepers) ----
  // Exact dedup below document granularity (Lee et al., "Deduplicating
  // Training Data Makes Language Models Better", ACL 2022): documents
  // are cut into fixed W-token windows, every window occurrence is
  // keyed by its text, and the GLOBAL first occurrence (lowest
  // (doc_id, chunk_idx), integer-encoded so the argmin is one BIGINT
  // min) is the keeper — every other occurrence is a duplicate span a
  // curation pass would drop. Output is the per-document audit (chunk
  // count, duplicate-chunk count, dup ratio) that drives the drop/keep
  // decision. Scale shape: explode → one hash agg keyed by the
  // high-cardinality chunk text → one gram-key join back → per-doc agg;
  // never all-pairs, no window, no sort (the d18 discipline). W is a
  // dial — 4 here so the 31-word fixture vocabulary yields real
  // collisions (non-vacuous oracle, the d22 rule); production corpora
  // use 50–100-token windows with byte-identical semantics.
  private val d25W = 4
  private def d25(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkDedup(Tables(s, dir, "documents"), "doc_id", "text", d25W)
  private val d25Sql =
    s"""WITH base AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |ex AS (SELECT doc_id, toks,
       |    unnest(generate_series(0, CAST(ceil(len(toks) / $d25W.0) AS INT) - 1))
       |      AS chunk_idx
       |  FROM base),
       |ch AS (SELECT doc_id, chunk_idx,
       |    array_to_string(toks[(chunk_idx * $d25W + 1):(chunk_idx * $d25W + $d25W)], ' ')
       |      AS chunk
       |  FROM ex),
       |k AS (SELECT chunk, min(doc_id * 1000000 + chunk_idx) AS keeper
       |  FROM ch GROUP BY 1),
       |j AS (SELECT ch.doc_id, ch.chunk_idx, k.keeper
       |  FROM ch JOIN k USING (chunk))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN doc_id * 1000000 + chunk_idx <> keeper
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |  CAST(sum(CASE WHEN doc_id * 1000000 + chunk_idx <> keeper
       |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_ratio
       |FROM j GROUP BY doc_id""".stripMargin

  // ---- d27: chunk dedup APPLIED — the deduplicated corpus ----
  // d25 is the audit; this is the action: non-keeper chunk occurrences
  // drop and each document is reassembled from its surviving chunks
  // (original order). Fully-owned-elsewhere documents disappear —
  // dedup at w-chunk granularity. The oracle reproduces keeper
  // election AND reassembly (string_agg ORDER BY chunk_idx), so the
  // emitted corpus text is hash-checked character-for-character.
  private def d27(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkDedupApply(Tables(s, dir, "documents"), "doc_id", "text",
      d25W)
  private val d27Sql =
    s"""WITH base AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |ex AS (SELECT doc_id, toks,
       |    unnest(generate_series(0, CAST(ceil(len(toks) / $d25W.0) AS INT) - 1))
       |      AS chunk_idx
       |  FROM base),
       |ch AS (SELECT doc_id, chunk_idx,
       |    array_to_string(toks[(chunk_idx * $d25W + 1):(chunk_idx * $d25W + $d25W)], ' ')
       |      AS chunk
       |  FROM ex),
       |k AS (SELECT chunk, min(doc_id * 1000000 + chunk_idx) AS keeper
       |  FROM ch GROUP BY 1),
       |kept AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk
       |  FROM ch JOIN k USING (chunk)
       |  WHERE ch.doc_id * 1000000 + ch.chunk_idx = k.keeper)
       |SELECT doc_id,
       |  string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text,
       |  CAST(count(*) AS BIGINT) AS n_kept
       |FROM kept GROUP BY doc_id""".stripMargin

  // ---- d30: end-to-end curation manifest (the composed pipeline) ----
  // The capstone composition — what a user actually runs: gate → chunk
  // dedup APPLIED (d25/d27: non-keeper spans dropped, docs reassembled,
  // fully-owned docs gone) → per-source quality budget on the DEDUPED
  // text (d28's sharded frontier — dedup first, then budget, so
  // duplicate spans can't buy budget) → mixture epoch expansion (d26)
  // of the surviving set. Output is the training-set manifest (doc_id,
  // source, n_tokens, epoch). Every stage is one of the
  // individually-oracle-checked operators; this row hash-gates their
  // COMPOSITION as a single DuckDB CTE chain, end to end.
  // The v1 manifest's expensive front — chunk dedup APPLIED (d25's
  // reassembled clean text) scored per doc (clean token count,
  // stopword quality, budget shard) — is a per-doc table a curation
  // run materializes ONCE, exactly like the v2+ screen report: r16's
  // d30 was the only composed artifact still re-deriving its screens
  // per run (6 scans / 6 exchanges / 5 Generates, 1.34 s — VERDICT
  // r16 next 3). Built per (session, dataset) under the warehouse;
  // d30 reads it and runs only its own bounded tail (budget window +
  // mixture expansion). Oracle unchanged — the composed CTE chain
  // still hash-gates the full pipeline end to end.
  private val curationV1Disk = new DiskLayoutCache("graft_cur_v1")
  private def curationV1Scored(s: SparkSession, dir: String): DataFrame = {
    val path = curationV1Disk.getOrBuild(s, dir) { p =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val clean = TextOps.chunkDedupApply(docs, "doc_id", "text", d25W)
        .join(docs.select($"doc_id", $"source"), "doc_id")
      // shard coin = the digest's first two nibbles, via the native
      // kernel (value-identical to conv(substring(md5-hex,1,2),16,10)
      // — the documented Md5PrefixExpr equivalence; no hex string)
      val shard = pmod(graft.functions.GraftFunctions.md5Prefix(
          concat($"doc_id".cast("string"), lit(":cur")).cast("binary"), 2)
        .cast("int"), lit(d28Shards))
      clean
        .select($"doc_id", $"source",
          TextOps.tokensOnce($"clean_text").as("toks"), shard.as("shard"))
        .select($"doc_id", $"source",
          size($"toks").cast("long").as("n_tokens"),
          (hitCount("toks", stopEn) / size($"toks")).as("q"),
          $"shard")
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  private def d30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = curationV1Scored(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source", $"shard").orderBy($"q".desc, $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val kept = scored.withColumn("cum", sum($"n_tokens").over(w))
      .filter($"cum" <= d28Budget)
      .select($"doc_id", $"source", $"n_tokens")
    mixtureExpand(kept).join(kept.select($"doc_id", $"n_tokens"), "doc_id")
      .select($"doc_id", $"source", $"n_tokens", $"epoch")
  }
  private lazy val d30Sql =
    s"""WITH base AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |ex AS (SELECT doc_id, toks,
       |    unnest(generate_series(0, CAST(ceil(len(toks) / $d25W.0) AS INT) - 1))
       |      AS chunk_idx
       |  FROM base),
       |ch AS (SELECT doc_id, chunk_idx,
       |    array_to_string(toks[(chunk_idx * $d25W + 1):(chunk_idx * $d25W + $d25W)], ' ')
       |      AS chunk
       |  FROM ex),
       |k AS (SELECT chunk, min(doc_id * 1000000 + chunk_idx) AS keeper
       |  FROM ch GROUP BY 1),
       |clean AS (SELECT ch.doc_id,
       |    string_agg(ch.chunk, ' ' ORDER BY ch.chunk_idx) AS clean_text
       |  FROM ch JOIN k USING (chunk)
       |  WHERE ch.doc_id * 1000000 + ch.chunk_idx = k.keeper
       |  GROUP BY ch.doc_id),
       |sc AS (SELECT c.doc_id, d.source,
       |    CAST(len(ctoks) AS BIGINT) AS n_tokens,
       |    CAST(${duckHitCount("ctoks", stopEn)} AS DOUBLE) / len(ctoks) AS q,
       |    CAST('0x' || substr(md5(CAST(c.doc_id AS VARCHAR) || ':cur'), 1, 2)
       |      AS INT) % $d28Shards AS shard
       |  FROM (SELECT doc_id, clean_text,
       |          string_split(clean_text, ' ') AS ctoks FROM clean) c
       |  JOIN documents d ON d.doc_id = c.doc_id),
       |w AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY source, shard
       |    ORDER BY q DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM sc),
       |kept AS (SELECT doc_id, source, n_tokens FROM w WHERE cum <= $d28Budget),
       |mx AS (SELECT doc_id, source, n_tokens,
       |    0.5e0 + (CAST(regexp_extract(source, '([0-9]+)$$', 1) AS INT) % 4)
       |      * 0.75e0 AS wgt,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 6)
       |      AS INT) / 16777216.0e0 AS u
       |  FROM kept),
       |ne AS (SELECT doc_id, source, n_tokens,
       |    CAST(floor(wgt) + CASE WHEN wgt - floor(wgt) > u THEN 1 ELSE 0 END
       |      AS INT) AS n_epochs
       |  FROM mx)
       |SELECT doc_id, source, n_tokens,
       |  CAST(unnest(generate_series(1, n_epochs)) AS BIGINT) AS epoch
       |FROM ne WHERE n_epochs >= 1""".stripMargin

  // ---- d29: language-ID accuracy audit (predicted vs labeled lang) ----
  // The fixture's `lang` column is ground truth d04 never looked at:
  // this query closes the loop with the (labeled, predicted) confusion
  // counts — the calibration artifact a language-filter pass ships with
  // (v12's audit shape, applied to the lang-id heuristic). On the
  // synthetic corpus every doc draws from the same latin word soup, so
  // the matrix concentrates on predicted='en' for all labels — exactly
  // what the audit is built to expose. One scan, codegen'd projection,
  // one |langs|×|langs|-bounded hash agg.
  private def d29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"lang", TextOps.tokensOnce($"text").as("toks"))
      .select($"lang",
        hitCount("toks", stopEn).cast("long").as("en_hits"),
        hitCount("toks", stopFr).cast("long").as("fr_hits"),
        hitCount("toks", stopEs).cast("long").as("es_hits"),
        hitCount("toks", stopDe).cast("long").as("de_hits"))
      .withColumn("predicted",
        when($"en_hits" >= $"fr_hits" && $"en_hits" >= $"es_hits" &&
          $"en_hits" >= $"de_hits", "en")
          .when($"fr_hits" >= $"es_hits" && $"fr_hits" >= $"de_hits", "fr")
          .when($"es_hits" >= $"de_hits", "es")
          .otherwise("de"))
      .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n"))
  }
  private val d29Sql =
    s"""SELECT lang, CASE
       |    WHEN en_hits >= fr_hits AND en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
       |    WHEN fr_hits >= es_hits AND fr_hits >= de_hits THEN 'fr'
       |    WHEN es_hits >= de_hits THEN 'es'
       |    ELSE 'de' END AS predicted,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM (SELECT lang,
       |        CAST(${duckHitCount("toks", stopEn)} AS BIGINT) AS en_hits,
       |        CAST(${duckHitCount("toks", stopFr)} AS BIGINT) AS fr_hits,
       |        CAST(${duckHitCount("toks", stopEs)} AS BIGINT) AS es_hits,
       |        CAST(${duckHitCount("toks", stopDe)} AS BIGINT) AS de_hits
       |      FROM (SELECT lang,
       |              string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |            FROM documents WHERE length(trim(text)) > 0) x) t
       |GROUP BY 1, 2""".stripMargin

  // ---- d28: per-source quality-budget pruning (curation curriculum) ----
  // The data-pruning step a token-budgeted pretraining mix runs per
  // source: rank documents by quality (d03's stopword ratio, doc_id
  // tiebreak) and keep the best until the source's token budget fills.
  // Budgets are enforced per (source, hash-shard) — d16's discipline:
  // a window partitioned by source alone is a near-global sort per
  // source at 100 TB (20 sources ≠ 20 000 tasks), while the salted
  // shard key makes each window a bounded slice and the shard count
  // the parallelism dial, at the cost of enforcing B/shards per shard
  // (how production budget-samplers actually apportion). Every row
  // carries its running total, so the keep/drop frontier is
  // oracle-exact, not statistical.
  private val d28Shards = 8
  private val d28Budget = 100L // tokens per (source, shard)
  private def d28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // shard coin = the digest's first two nibbles via the native
    // kernel — no hex round-trip (VERDICT r19 next 6; value-identical
    // to conv(substring(md5-hex,1,2),16,10), the Md5PrefixExpr spec)
    val shard = pmod(graft.functions.GraftFunctions.md5Prefix(
        concat($"doc_id".cast("string"), lit(":cur")).cast("binary"), 2)
      .cast("int"), lit(d28Shards))
    val base = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", $"source", TextOps.tokensOnce($"text").as("toks"),
        shard.as("shard"))
      .select($"doc_id", $"source",
        size($"toks").cast("long").as("n_tokens"),
        (hitCount("toks", stopEn) / size($"toks")).as("q"),
        $"shard")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source", $"shard").orderBy($"q".desc, $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    base.withColumn("cum_tokens", sum($"n_tokens").over(w))
      .select($"doc_id", $"source", $"shard", $"n_tokens", $"q",
        $"cum_tokens", ($"cum_tokens" <= d28Budget).cast("long").as("kept"))
  }
  private val d28Sql =
    s"""WITH t AS (SELECT doc_id, source,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |b AS (SELECT doc_id, source,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(${duckHitCount("toks", stopEn)} AS DOUBLE) / len(toks) AS q,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cur'), 1, 2)
       |      AS INT) % $d28Shards AS shard
       |  FROM t),
       |w AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY source, shard
       |    ORDER BY q DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM b)
       |SELECT doc_id, source, shard, n_tokens, q,
       |  CAST(cum AS BIGINT) AS cum_tokens,
       |  CAST(cum <= $d28Budget AS BIGINT) AS kept
       |FROM w""".stripMargin

  // ---- d26: source-mixture epoch weighting (training mixtures) ----
  // Composing a pretraining mixture means each source gets a sampling
  // weight w (epochs of repetition): every doc is emitted floor(w)
  // times, plus once more with probability frac(w) — decided by a
  // salted hash of the doc id (NEVER rand(): re-runs, backfills and
  // the oracle reproduce the exact replica set; ':mix' salt keeps it
  // independent of d15's split and d19's sample byte, the d19 lesson).
  // w < 1 downsamples, w > 1 upsamples — both shuffle-free: one
  // projection + one explode, rows move only where they already live.
  // Weights here derive from the source number (w ∈ {0.5, 1.25, 2.0,
  // 2.75}) so the dial covers both regimes at every scale factor; a
  // production run would broadcast-join a literal weight table — the
  // arithmetic is identical. All math is double ('e0' literals on the
  // oracle side) over exactly-representable weights and a 24-bit hash
  // fraction, so the tie comparison is bit-identical cross-engine.
  /** The d26 transform on an arbitrary (doc_id, source) frame —
    * STATELESS (projection + explode), so it applies unchanged to a
    * streaming input: s08 runs it inside readStream → writeStream and
    * the same batch oracle gates the streamed output. */
  private[operators] def mixtureExpand(docs: DataFrame): DataFrame = {
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
    val w = lit(0.5) + pmod(srcNum, lit(4)).cast("double") * lit(0.75)
    val u = graft.functions.GraftFunctions.md5Prefix(
      concat(col("doc_id").cast("string"), lit(":mix")).cast("binary"), 6)
      .cast("double") / lit(16777216.0)
    docs
      .select(col("doc_id"), col("source"),
        (floor(w) + when(w - floor(w) > u, 1.0).otherwise(0.0))
          .cast("int").as("n_epochs"))
      .filter(col("n_epochs") >= 1)
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(cast(1 as bigint), cast(n_epochs as bigint))"))
          .as("epoch"))
  }

  private def d26(s: SparkSession, dir: String): DataFrame =
    mixtureExpand(Tables(s, dir, "documents"))
  private[operators] val d26Sql =
    """WITH t AS (SELECT doc_id, source,
      |    0.5e0 + (CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 4)
      |      * 0.75e0 AS w,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 6)
      |      AS INT) / 16777216.0e0 AS u
      |  FROM documents),
      |n AS (SELECT doc_id, source,
      |    CAST(floor(w) + CASE WHEN w - floor(w) > u THEN 1 ELSE 0 END AS INT)
      |      AS n_epochs
      |  FROM t)
      |SELECT doc_id, source,
      |  CAST(unnest(generate_series(1, n_epochs)) AS BIGINT) AS epoch
      |FROM n WHERE n_epochs >= 1""".stripMargin

  // ---- d31: n-gram novelty (first-occurrence fraction per doc) ----
  // The growth-curve signal behind "is new data still adding new
  // content?": for each doc, the fraction of its distinct 3-gram
  // shingles whose FIRST corpus occurrence (min doc_id — at production
  // scale, min ingest timestamp) is this doc. Near-dup and boilerplate
  // docs score near 0; genuinely novel docs near 1 — a per-doc filter
  // signal and, summed by ingest order, the corpus novelty curve.
  // Scale shape: explode → gram-key hash agg (min) → gram-key join
  // back → per-doc agg; every shuffle is keyed by the high-cardinality
  // gram or doc_id, never all-pairs. The 6dp rounding uses the
  // floor(x·1e6 + 0.5) form (v07's rule: same IEEE op sequence in both
  // engines; round() half-cases diverge cross-engine and small-integer
  // ratios DO hit them, unlike d20's log sums).
  private def d31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // first occurrence as a partial-aggregable gram-key agg + join
    // back on the gram — NOT a min-window over the sh partition (the
    // d17/d32 finding applied to grams: a boilerplate trigram present
    // in every doc makes that gram's window partition corpus-sized
    // through ONE task, while the agg form collapses it map-side and
    // AQE can split the skewed join probe). The first-occurrence
    // branch re-derives the explode from a second scan — the skew
    // safety costs one extra map-side-collapsed corpus pass, the
    // oracle's own two-CTE structure.
    // r19 shuffle diet: the gram is hashed in the explode projection —
    // the first-occurrence agg and the join back shuffle 8-byte longs,
    // never 3-gram strings (the d54/d82 discipline; the string oracle
    // is the cross-hash check). The first-occurrence frame is
    // CORPUS-proportional: merge-hinted so fixture-scale AQE cannot
    // broadcast what is GBs at 100 TB.
    //
    // r22: gram strings never materialize — d82's window-hash kernel
    // emits values IDENTICAL to xxhash64(concat_ws(' ', window))
    // (same bytes, same seed — GramHashesExpr Scaladoc), so
    // array_distinct over the longs is the string distinct's set and
    // per-doc counts move only under an in-document collision, the
    // premise the downstream gh groupBy always carried.
    val ex = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(array_distinct(
        graft.functions.GraftFunctions.gramHashes($"toks", 3))).as("gh"))
    val first = ex.groupBy($"gh").agg(min($"doc_id").as("first_doc"))
    ex.join(first.hint("merge"), "gh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(($"first_doc" === $"doc_id").cast("long")).as("novel"))
      .select($"doc_id", $"n_grams", $"novel",
        (floor($"novel" / $"n_grams" * 1e6 + 0.5) / 1e6).as("novelty"))
  }
  private val d31Sql =
    """WITH t AS (SELECT doc_id,
      |             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |           FROM documents WHERE length(trim(text)) > 0),
      |     s AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |             generate_series(1, len(toks) - 2),
      |             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS sh
      |           FROM t WHERE len(toks) >= 3),
      |     f AS (SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY 1)
      |SELECT s.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS novel,
      |  floor(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS novelty
      |FROM s JOIN f USING (sh) GROUP BY 1""".stripMargin

  // ---- d32: vocabulary growth curve (Heaps-law audit) ----
  // The corpus-level companion of d31: bucket documents by ingest order
  // (doc_id div `vocabBucket`; at production scale, ingest date) and
  // count tokens per bucket, terms FIRST seen per bucket, and the
  // cumulative vocabulary — the Heaps-law curve whose flattening says
  // new data has stopped adding new language. Scale shape: two
  // map-side-collapsed corpus passes (token counts per bucket; first
  // occurrences per term — Spark shares no subtrees across join
  // branches, and the optimizer collapses the nt branch's inner agg
  // into its term-key agg anyway), matching the oracle's CTE
  // structure; the only window is the cumulative sum over ONE ROW
  // PER BUCKET (a date-bounded handful at any corpus size), so the
  // global-order window is over driver-scale cardinality, never the
  // corpus.
  private val vocabBucket = 50
  private def d32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wCum = org.apache.spark.sql.expressions.Window.orderBy($"bucket")
      .rowsBetween(Long.MinValue, 0)
    // first occurrences as a term-key agg — NOT a min-window over the
    // raw exploded token stream (a stopword's window partition is the
    // corpus's total token count through one task; the agg form
    // partial-aggregates map-side — the r14-verdict d32 finding).
    val bt = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select(($"doc_id" / vocabBucket).cast("long").as("bucket"),
        explode(TextOps.tokensOnce($"text")).as("term"))
      .groupBy($"bucket", $"term").agg(count(lit(1)).as("c"))
    val pb = bt.groupBy($"bucket").agg(sum($"c").as("n_tokens"))
    // bucket is monotone in doc_id, so min(bucket) IS the first
    // occurrence's bucket
    val nt = bt.groupBy($"term").agg(min($"bucket").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("new_terms"))
    pb.join(nt, Seq("bucket"), "left")
      .select($"bucket", $"n_tokens",
        coalesce($"new_terms", lit(0L)).as("new_terms"))
      .withColumn("cum_vocab", sum($"new_terms").over(wCum))
  }
  private val d32Sql =
    s"""WITH t AS (SELECT doc_id,
       |             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |           FROM documents WHERE length(trim(text)) > 0),
       |  tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |  pb AS (SELECT doc_id // $vocabBucket AS bucket, COUNT(*) AS n_tokens
       |         FROM tok GROUP BY 1),
       |  ft AS (SELECT term, min(doc_id) AS first_doc FROM tok GROUP BY 1),
       |  nt AS (SELECT first_doc // $vocabBucket AS bucket,
       |           COUNT(*) AS new_terms
       |         FROM ft GROUP BY 1)
       |SELECT pb.bucket, pb.n_tokens,
       |  CAST(COALESCE(nt.new_terms, 0) AS BIGINT) AS new_terms,
       |  CAST(SUM(COALESCE(nt.new_terms, 0)) OVER (ORDER BY pb.bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_vocab
       |FROM pb LEFT JOIN nt USING (bucket)""".stripMargin

  // ---- d33: decontamination APPLY (the cleaned training corpus) ----
  // d23 scores; this emits. The training corpus after removal: the
  // eval slice itself is excluded by definition, any doc whose d23
  // contamination reaches `decontamTau` is dropped, and docs the screen
  // cannot score (blank / fewer than 5 tokens — no 5-grams, no overlap
  // evidence) are kept. Same screen-vs-apply pairing as d25/d27. The
  // kept text is identity-checked by md5 so the oracle gates the
  // emitted corpus, not just the verdict bits. Scale shape: d23's
  // gram-key semi-join + one anti-join on doc_id — never all-pairs.
  private val decontamTau = 0.05
  private def d33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val contaminated = d23(s, dir)
      .filter($"contamination" >= decontamTau).select($"doc_id")
    Tables(s, dir, "documents")
      .filter($"doc_id" >= 20)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"source",
        md5($"text".cast("binary")).as("text_md5"))
  }
  // composed as plain concatenation: running stripMargin over the
  // interpolated d23Sql would eat the leading pipe of its `||` concats
  private val d33Sql =
    s"WITH sc AS (\n$d23Sql)\n" + s"""SELECT d.doc_id, d.source, md5(d.text) AS text_md5
       |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
       |WHERE d.doc_id >= 20
       |  AND (sc.doc_id IS NULL OR sc.contamination < $decontamTau)""".stripMargin

  // ---- d34: incremental dedup against the keeper ledger ----
  // The form dedup actually takes at 100 TB: the corpus is never
  // re-deduplicated — a NEW BATCH (here doc_id >= `ledgerSplit`) is
  // checked against the LEDGER the history already produced (the
  // sig → min-keeper table over doc_id < `ledgerSplit`), so the cost
  // is |batch| + a sig-key ledger probe, independent of corpus size.
  // The signature is the WORD-SET (sorted distinct tokens) — a
  // bag-of-words dedup key under which the fixture has real collisions
  // (the exact-text d01 key has none, which would leave the dup
  // branches oracle-vacuous). Verdicts: `dup_of_history` (sig already
  // in the ledger — keeper is the historical one), `dup_in_batch`
  // (sig new, but another batch doc with a lower id owns it),
  // `new_keeper` (this doc extends the ledger). Batch-internal keepers
  // use d01's min-id election, so appending the new_keeper rows IS the
  // next ledger state — the backfill-stable update rule d15/d24 use
  // for splits/order.
  private[operators] val ledgerSplit = 400
  private[graft] def bowSig(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    md5(concat_ws(" ",
      array_sort(array_distinct(TextOps.tokens(c)))).cast("binary"))
  /** The d34/s10 verdict projection over rows carrying (doc_id, sig,
    * hist_keeper nullable, batch_keeper) — one rule, both the batch
    * and streamed incremental-dedup paths. */
  private[operators] def ledgerVerdict(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("sig"),
      when(col("hist_keeper").isNotNull, lit("dup_of_history"))
        .when(col("doc_id") =!= col("batch_keeper"), lit("dup_in_batch"))
        .otherwise(lit("new_keeper")).as("status"),
      coalesce(col("hist_keeper"), col("batch_keeper")).as("keeper"))

  private def d34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // both keeper minima as ONE partial-aggregable sig-key agg +
    // join back on the sig — NOT conditional min-windows over the sig
    // partition: the sig is a DUP-GROUP key, and a viral boilerplate
    // doc duplicated millions of times is exactly the hot partition
    // this operator exists to catch (the r13 gh-keeper finding; the
    // min-when aggs collapse each hot sig to one row per mapper).
    // The ledger branch re-reads the fixture (two slim scans); in the
    // deployed incremental form the ledger is a materialized table
    // and only the batch scans.
    val sigs = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", bowSig($"text").as("sig"))
    val led = sigs.groupBy($"sig").agg(
      min(when($"doc_id" < ledgerSplit, $"doc_id")).as("hist_keeper"),
      min(when($"doc_id" >= ledgerSplit, $"doc_id")).as("batch_keeper"))
    ledgerVerdict(sigs.filter($"doc_id" >= ledgerSplit).join(led, "sig"))
  }
  private[operators] val d34Sql =
    s"""WITH sigs AS (SELECT doc_id,
       |    md5(array_to_string(list_sort(list_distinct(
       |      string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))), ' ')) AS sig
       |  FROM documents WHERE length(trim(text)) > 0),
       |  ledger AS (SELECT sig, MIN(doc_id) AS hist_keeper
       |    FROM sigs WHERE doc_id < $ledgerSplit GROUP BY 1),
       |  batch AS (SELECT * FROM sigs WHERE doc_id >= $ledgerSplit),
       |  bm AS (SELECT sig, MIN(doc_id) AS batch_keeper
       |    FROM batch GROUP BY 1)
       |SELECT b.doc_id, b.sig,
       |  CASE WHEN l.hist_keeper IS NOT NULL THEN 'dup_of_history'
       |       WHEN b.doc_id <> bm.batch_keeper THEN 'dup_in_batch'
       |       ELSE 'new_keeper' END AS status,
       |  COALESCE(l.hist_keeper, bm.batch_keeper) AS keeper
       |FROM batch b LEFT JOIN ledger l ON b.sig = l.sig
       |JOIN bm ON b.sig = bm.sig""".stripMargin

  // ---- d35: partitioned corpus lake (source-pruned scans) ----
  // The disk layout a multi-source 100 TB text corpus is stored in:
  // written ONCE per dataset `partitionBy(source)` (the index-build
  // cost a fleet of per-source jobs amortizes — v06's rule applied to
  // text), so any source-filtered job reads only its directory via a
  // real PartitionFilter — no bytes of the other sources are touched
  // (plan-asserted in PlanDisciplineSpec). The registered row computes
  // one source's quality profile off the pruned scan; the oracle is
  // plain SQL over the unpartitioned table, so the write → prune →
  // scan roundtrip is hash-gated end to end.
  // per-key slot locking + stale-session dir GC — see DiskLayoutCache
  private val corpusLake = new DiskLayoutCache("graft_corpus")

  private[operators] def corpusLakePath(s: SparkSession, dir: String)
      : String = corpusLake.getOrBuild(s, dir) { path =>
    Tables(s, dir, "documents")
      .write.mode("overwrite").partitionBy("source").parquet(path)
  }

  private[operators] def d35Probe(s: SparkSession, dir: String,
      source: String): DataFrame = {
    import s.implicits._
    s.read.parquet(corpusLakePath(s, dir))
      .filter($"source" === source)
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", $"source", TextOps.tokensOnce($"text").as("toks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size($"toks")).cast("bigint").as("n_tokens"),
        max($"doc_id").as("max_doc_id"))
  }

  private def d35(s: SparkSession, dir: String): DataFrame =
    d35Probe(s, dir, "src0")
  private val d35Sql =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))) AS BIGINT) AS n_tokens,
      |  MAX(doc_id) AS max_doc_id
      |FROM documents WHERE source = 'src0' AND length(trim(text)) > 0
      |GROUP BY 1""".stripMargin

  // ---- d36: context-window chunking with overlap ----
  // The complement of d16's bin packing: d16 packs whole docs into
  // fixed token budgets; this SPLITS long documents into overlapping
  // W-token training windows at stride S (overlap W−S carries context
  // across boundaries — the standard pretraining chunker). Pure
  // projection + explode, zero shuffles; each chunk's text is
  // md5-gated so the emitted windows, not just their counts, are
  // cross-engine checked. Chunk count per doc is 1 + max(0,
  // ⌈(n−W)/S⌉): every token is covered, the last window may run
  // short, and a window is only emitted when it EXTENDS past the
  // previous one's end — the naive ⌊(n−1)/S⌋+1 count emits a final
  // window fully contained in its predecessor whenever the tail is
  // shorter than the overlap W−S, over-representing document tails in
  // the training mix (ADVICE r9). The ceil is integer-only,
  // (n−W+S−1) div S, so both engines compute it exactly.
  private val chunkW = 64
  private val chunkS = 48

  /** The chunking transform itself — stateless column ops only, so the
    * same expression tree runs over a batch scan or a document
    * readStream (s11). Input needs (doc_id, text). */
  private[operators] def contextChunks(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokensOnce(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n"), col("toks"))
      .select(col("doc_id"), col("n"), col("toks"), explode(expr(
        s"sequence(cast(0 as bigint), " +
          s"greatest(cast(0 as bigint), (n - $chunkW + ${chunkS - 1}) div $chunkS))"))
        .as("ci"))
      .select(col("doc_id"), col("ci").as("chunk_idx"),
        (col("ci") * chunkS).as("start"),
        least(lit(chunkW), col("n") - col("ci") * chunkS)
          .cast("long").as("chunk_len"),
        md5(concat_ws(" ", expr(
          s"slice(toks, cast(ci * $chunkS + 1 as int), " +
            s"cast(least($chunkW, n - ci * $chunkS) as int))"))
          .cast("binary")).as("chunk_md5"))

  private def d36(s: SparkSession, dir: String): DataFrame =
    contextChunks(Tables(s, dir, "documents"))
  private[operators] val d36Sql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |  x AS (SELECT doc_id, len(toks) AS n, toks,
       |      unnest(generate_series(0, greatest(CAST(0 AS BIGINT),
       |        (len(toks) - $chunkW + ${chunkS - 1}) // $chunkS))) AS ci
       |    FROM t)
       |SELECT doc_id, ci AS chunk_idx, ci * $chunkS AS start,
       |  CAST(least($chunkW, n - ci * $chunkS) AS BIGINT) AS chunk_len,
       |  md5(array_to_string(
       |    toks[CAST(ci * $chunkS + 1 AS INT) :
       |         CAST(ci * $chunkS + least($chunkW, n - ci * $chunkS) AS INT)],
       |    ' ')) AS chunk_md5
       |FROM x""".stripMargin

  // ---- d37: leakage-safe split (near-dup clusters stay together) ----
  // The leakage guard d15 alone cannot give: hashing DOCUMENT ids
  // sends two near-duplicates to different splits, so the eval set
  // sees paraphrases of training data (the contamination mode
  // dedup-before-split papers warn about). Near-dup here = word-set
  // identity (d34's bowSig — the signal with real collisions in this
  // corpus at every SF; the <100-slice shingle-jaccard graph is all
  // singletons at the gate scale, which would leave the guard
  // oracle-vacuous). Clusters come from the same ConnectedComponents
  // operator the d14/v10 pipelines use, fed doc→group-min star edges;
  // the split coin is the md5 of the CLUSTER KEEPER, so every member
  // of a near-dup cluster lands in one split by construction and
  // singletons reduce exactly to d15's rule on their own id. Same
  // 'cc'/'e6' thresholds (≈ 80/10/10).
  private def d37(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", bowSig($"text").as("sig"))
    val minPerSig = sigs.groupBy($"sig").agg(min($"doc_id").as("m"))
    val edges = sigs.join(minPerSig, "sig")
      .filter($"doc_id" =!= $"m")
      .select($"m".as("id_a"), $"doc_id".as("id_b"))
    val labels = graft.graph.ConnectedComponents.run(
      sigs.select($"doc_id".as("id")), edges)
    val bucket = substring(md5($"label".cast("string").cast("binary")), 1, 2)
    labels.select($"id".as("doc_id"), $"label".as("keeper"),
      bucket.as("bucket"),
      when(bucket < "cc", "train")
        .when(bucket < "e6", "val")
        .otherwise("test").as("split"))
  }
  // sig-equality edges close into exactly the sig groups, so the
  // oracle is the direct group-min form — result-identical to the CC
  // run by construction
  private val d37Sql =
    """WITH sigs AS (SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))), ' ')) AS sig
      |  FROM documents WHERE length(trim(text)) > 0),
      |  k AS (SELECT sig, MIN(doc_id) AS keeper FROM sigs GROUP BY 1)
      |SELECT s.doc_id, k.keeper,
      |  substring(md5(CAST(k.keeper AS VARCHAR)), 1, 2) AS bucket,
      |  CASE WHEN substring(md5(CAST(k.keeper AS VARCHAR)), 1, 2) < 'cc'
      |         THEN 'train'
      |       WHEN substring(md5(CAST(k.keeper AS VARCHAR)), 1, 2) < 'e6'
      |         THEN 'val'
      |       ELSE 'test' END AS split
      |FROM sigs s JOIN k USING (sig)""".stripMargin

  // ---- d38: hashed-n-gram linear quality classifier ----
  // The fastText/CCNet-shaped quality FILTER production pipelines run
  // (a linear model over hashed bag-of-n-gram features — the hashing
  // trick): every document's unigrams + bigrams hash into `qcBuckets`
  // weight slots and the document's score is the mean bucket weight,
  // thresholded into the keep/drop verdict. A shipped model is just a
  // different weight table; here weights are md5-derived constants of
  // the bucket id, so the WHOLE scoring path — tokenize, gram, hash,
  // look up, reduce, threshold — is cross-engine checkable.
  //
  // Scale shape: ONE codegen'd projection, ZERO shuffles (the gram
  // walk is a HOF aggregate over the token array — no explode, no
  // gram-key exchange; PlanDisciplineSpec pins Exchange-free). That is
  // the property that matters at 100 TB: classifier scoring is a
  // map-only pass a scan can pipeline, unlike the gram-key shuffles
  // the dedup/novelty queries genuinely need.
  //
  // Exactness: each bucket weight is k/2^24 − 0.5 (k a 24-bit md5
  // slice) — a dyadic double at grain 2^-24 — so gram-weight sums of
  // any realistic length are EXACT in IEEE double regardless of
  // association order (≤ 2^29 terms before the grain can round), and
  // Spark's index-order fold equals DuckDB's unnest+SUM bit-for-bit
  // with no decimal-fold scaffolding. The one inexact op is the final
  // mean (a single division, identical operands both engines), snapped
  // floor-form; the keep flag compares the SNAPPED value so the
  // threshold can't straddle a ulp.
  private val qcBuckets = 4096

  /** Unigram + bigram bag over a `toks` array column — the hashed
    * feature walk d38 (classifier) and d39 (importance resampling)
    * share. Gram OCCURRENCES, not distinct grams: both consumers are
    * bag-of-n-gram models. */
  private[operators] val uniBigramExpr: String =
    "concat(toks, CASE WHEN size(toks) >= 2 THEN " +
      "transform(sequence(0, size(toks) - 2), " +
      "i -> concat_ws(' ', toks[i], toks[i + 1])) " +
      "ELSE cast(array() as array<string>) END)"

  /** The model's weight table, precomputed: weight of bucket b is the
    * md5-derived dyadic constant md5Prefix("qw:b", 6)/2^24 − 0.5 — a
    * pure function of the bucket id over a BOUNDED domain, so the
    * per-gram rendering (a SECOND md5 per gram, r19 finding) paid
    * |grams| digests for `buckets` distinct values. Each entry is the
    * bit-identical value the inline expression produced (same digest,
    * same exact dyadic arithmetic), so per-doc sums — index-order
    * folds of identical terms — are unchanged and the d38 oracle
    * still gates the whole path. The d44 lnc/lnd literal-array
    * pattern applied to the classifier. */
  private lazy val qcWeights: Array[Double] = qcWeightsFor(qcBuckets)
  private def qcWeightsFor(buckets: Int): Array[Double] =
    Array.tabulate(buckets) { b =>
      graft.functions.HashKernels2.md5Prefix(
        s"qw:$b".getBytes("UTF-8"), 6).toDouble / 16777216.0 - 0.5
    }

  /** The d38 gram-weight fold, taken straight off the `toks` column —
    * the one scoring expression qualityClassify and m09's feature
    * frame share. r22: delegates to the native QcWsumExpr kernel (ONE
    * codegen'd uni+bigram walk per row, same md5Prefix bucket coin,
    * same fold order — bit-identical, HashExprsSpec) where the r21
    * form ran an interpreted `aggregate` lambda per gram over a
    * materialized gram-string array. */
  private[operators] def gramWsum(buckets: Int = qcBuckets)
      : org.apache.spark.sql.Column = {
    val w = if (buckets == qcBuckets) qcWeights else qcWeightsFor(buckets)
    graft.functions.GraftFunctions.gramBucketWsum(col("toks"), w, buckets)
  }

  /** size(uniBigramExpr) without materializing the gram array: the
    * walk emits n unigrams plus (n-1) bigrams when n >= 2 — exact
    * integer arithmetic, value-identical to size(grams). */
  private[operators] val nGramsOfToks: org.apache.spark.sql.Column =
    expr("CASE WHEN size(toks) >= 2 THEN size(toks) * 2 - 1 " +
      "ELSE size(toks) END")

  /** The classifier transform itself — stateless column ops only, so
    * the same expression tree runs over a batch scan or a document
    * readStream (s13, the d36/s11 pattern). Input needs
    * (doc_id, text). */
  private[operators] def qualityClassify(docs: DataFrame,
      buckets: Int = qcBuckets): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokensOnce(col("text")).as("toks"))
      .withColumn("wsum", gramWsum(buckets))
      .select(col("doc_id"), nGramsOfToks.cast("long").as("n_grams"),
        (floor(col("wsum") / nGramsOfToks * 1e6 + 0.5) / 1e6).as("qscore"))
      .withColumn("keep", (col("qscore") >= 0.0).cast("long"))

  /** Per-doc surface features + the d38 score in ONE projection —
    * m09's regression frame: x1 = average token length, x2 = stopword
    * ratio (the d03 forms, proven IEEE-identical cross-engine), y =
    * the snapped classifier score. One tokenize pass, no join between
    * the feature and score legs. */
  private[operators] def qualityFeatureFrame(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokensOnce(col("text")).as("toks"))
      .select(col("doc_id"),
        (graft.functions.GraftFunctions.tokLenSum(col("toks")) / size(col("toks")))
          .as("x1"),
        (hitCount("toks", stopEn) / size(col("toks"))).as("x2"),
        (floor(gramWsum() / nGramsOfToks * 1e6 + 0.5) / 1e6)
          .as("y"))

  /** DuckDB mirror of [[qualityFeatureFrame]] — a CTE body yielding
    * (doc_id, x1, x2, y). */
  private[operators] lazy val qualityFeatureSql =
    s"""SELECT f.doc_id, f.x1, f.x2, q.qscore AS y
       |  FROM (SELECT doc_id,
       |      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
       |        / len(toks) AS x1,
       |      CAST(${duckHitCount("toks", stopEn)} AS DOUBLE) / len(toks) AS x2
       |    FROM (SELECT doc_id, text,
       |        string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |      FROM documents WHERE length(trim(text)) > 0) t) f
       |  JOIN (
       |$d38Sql
       |  ) q ON f.doc_id = q.doc_id""".stripMargin

  private def d38(s: SparkSession, dir: String): DataFrame =
    qualityClassify(Tables(s, dir, "documents"))
  private[operators] val d38Sql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |g AS (SELECT doc_id, list_concat(toks,
       |    CASE WHEN len(toks) >= 2 THEN
       |      list_transform(generate_series(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i + 1])
       |    ELSE CAST([] AS VARCHAR[]) END) AS grams FROM t),
       |x AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gr FROM g),
       |ws AS (SELECT doc_id, n_grams,
       |    SUM(CAST('0x' || substr(md5('qw:' || CAST(
       |          CAST('0x' || substr(md5(gr), 1, 6) AS INT) % $qcBuckets
       |        AS VARCHAR)), 1, 6) AS INT) / 16777216.0e0 - 0.5e0) AS s
       |  FROM x GROUP BY doc_id, n_grams),
       |q AS (SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       |    floor(s / n_grams * 1e6 + 0.5) / 1e6 AS qscore
       |  FROM ws)
       |SELECT doc_id, n_grams, qscore,
       |  CAST(CASE WHEN qscore >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM q""".stripMargin

  // ---- d39: DSIR-shaped importance resampling ----
  // The data-selection step production pretraining pipelines run when
  // a raw crawl must be filtered toward a target domain (Xie et al.,
  // "Data Selection for Language Models via Importance Resampling"):
  // estimate hashed bag-of-n-gram feature distributions for the TARGET
  // slice (here the `lang = 'en'` documents — the high-resource domain
  // proxy this fixture offers) and for the RAW corpus, weight every
  // document by the log-likelihood ratio of its features under the two
  // distributions, and resample with acceptance probability
  // min(1, weight). Feature space is d38's unigram+bigram walk hashed
  // into `irBuckets` slots (the hashing trick), add-1 smoothed.
  //
  // Scale shape: ONE tokenize+explode corpus pass, aggregated into a
  // per-doc bucket HISTOGRAM (doc_id, lang, bucket, c) that both
  // consumers read — bucket stats are `sum(c)` grouped by bucket
  // (<= irBuckets rows, gathered driver-side: the v05 index-build
  // pattern), and the per-doc score is `Σ c·llr[bucket]` / `Σ c` from
  // the same persisted frame joined to the BROADCAST llr local
  // relation. Shuffles are keyed by (doc, bucket) and doc_id (the
  // corpus key), never anything quadratic, and the histogram caps any
  // one document's shuffle contribution at min(n_grams, irBuckets)
  // rows — a 100 MB mega-doc compresses to <= irBuckets rows before
  // the exchange, so it cannot skew the doc_id agg (the d20/d28 skew
  // discipline, here structural rather than dispatched). The index is
  // memoized per (session, dataset, buckets) with stopped-session
  // eviction — the ivf/pq pattern — so a fleet of scoring probes (and
  // the s14 stream) amortizes the single corpus pass, and nothing
  // leaks a persisted frame per invocation.
  //
  // Exactness: the ONE transcendental (ln) is snapped floor-form to
  // micro-nats at O(1) size — per BUCKET, before any per-doc use (the
  // d17 idf discipline) — and stored as an exact BIGINT; per-doc
  // weights are then BIGINT sums (order-independent, HUGEINT-cast on
  // the DuckDB side). The resampling coin compares exact integers:
  // ln(u) is snapped to micro-nats per doc and the verdict is
  // lnu_micro <= min(wsum_micro, 0) — integer <=, so no ulp can
  // straddle the keep decision at compare time.
  private[operators] val irBuckets = 4096
  private val irTargetLang = "en"

  /** (doc_id, lang, bucket) gram-occurrence stream — the front of the
    * histogram pass. */
  private def irGramBuckets(docs: DataFrame, buckets: Int): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("lang"), TextOps.tokensOnce(col("text")).as("toks"))
      .withColumn("grams", expr(uniBigramExpr))
      .select(col("doc_id"), col("lang"), explode(col("grams")).as("gram"))
      .select(col("doc_id"), col("lang"), expr(
        s"pmod(graft_md5_prefix(cast(gram as binary), 6), $buckets)")
        .as("bucket"))

  /** The DSIR index: the persisted per-doc bucket histogram
    * (doc_id, lang, bucket, c) — the ONE tokenize+explode corpus pass
    * the whole family shares — and the dense micro-nat llr array
    * (`buckets` longs) derived from it by a bounded driver gather.
    * The gather doubles as the action that fills the histogram cache,
    * so the scoring agg (and any repeat invocation — bench sweeps run
    * d39 3+ times) reads the cached frame instead of re-tokenizing
    * the corpus; that re-tokenization is exactly what made r10's d39
    * the suite's slowest query. Memoized per (session, dataset,
    * buckets) with stopped-session eviction, mirroring the ivf/pq
    * index caches — so nothing leaks per invocation (the r10 ADVICE
    * item on the old `irLlrTable` persist). Driver llr arithmetic is
    * the same JVM Math.log the distributed projection would run in
    * local mode; the stateless ≡ join-form spec and the s14 oracle
    * gate both pin the equality. */
  private val dsirCache = new SessionCache[(String, Int),
    (DataFrame, Array[Long])]({ case (df, _) => df.unpersist() })

  private[operators] def dsirIndex(s: SparkSession, dir: String,
      buckets: Int = irBuckets): (DataFrame, Array[Long]) = {
    dsirCache.getOrBuild(s, (dir, buckets)) {
      val hist = irGramBuckets(Tables(s, dir, "documents"), buckets)
        .groupBy(col("doc_id"), col("lang"), col("bucket"))
        .agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stats = hist.groupBy(col("bucket"))
        .agg(sum(col("c")).as("cnt_r"),
          sum(when(col("lang") === irTargetLang, col("c")).otherwise(0L))
            .as("cnt_t"))
        .collect() // bounded: <= buckets rows; fills the histogram cache
      val rr = stats.map(_.getLong(1)).sum
      val tt = stats.map(_.getLong(2)).sum
      def llr(cntR: Long, cntT: Long): Long =
        math.floor(math.log(((cntT + 1.0) * (rr + buckets)) /
          ((cntR + 1.0) * (tt + buckets))) * 1e6 + 0.5).toLong
      val arr = Array.fill(buckets)(llr(0L, 0L))
      stats.foreach(r => arr(r.getLong(0).toInt) = llr(r.getLong(1), r.getLong(2)))
      (hist, arr)
    }
  }

  /** Per-doc verdict columns from the micro-nat weight sum: logw (the
    * snapped log importance weight) and the capped rejection-sampling
    * keep coin. Shared by the join path (d39) and the stateless path
    * (s14). */
  private[operators] def irVerdict(scored: DataFrame): DataFrame = {
    val lnuMicro = floor(log(
      (graft.functions.GraftFunctions.md5Prefix(
        concat(col("doc_id").cast("string"), lit(":dsir")).cast("binary"), 6)
        .cast("double") + 0.5) / 16777216.0)
      * 1e6 + 0.5).cast("long")
    scored.select(col("doc_id"), col("n_grams"),
      (col("wsum") / 1e6).as("logw"),
      (lnuMicro <= least(col("wsum"), lit(0L))).cast("long").as("keep"))
  }

  /** One-pass d39: the cached histogram joined to the llr table —
    * rebuilt as a LOCAL relation from the driver array, so it rides a
    * broadcast with no recompute branch — then hash-aggregated on
    * doc_id. `n_grams = Σ c` and `wsum = Σ c·llr` are exact-integer
    * identical to the old per-occurrence forms (`count(*)` /
    * `Σ llr` over the gram stream grouped by doc). */
  private[operators] def importanceResample(s: SparkSession, dir: String,
      buckets: Int = irBuckets): DataFrame = {
    import s.implicits._
    val (hist, llr) = dsirIndex(s, dir, buckets)
    val llrDf = llr.toSeq.zipWithIndex
      .map { case (v, b) => (b.toLong, v) }.toDF("bucket", "llr")
    val scored = hist.join(broadcast(llrDf), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        sum(col("c") * col("llr")).as("wsum"))
    irVerdict(scored)
  }

  private def d39(s: SparkSession, dir: String): DataFrame =
    importanceResample(s, dir)
  private[operators] val d39Sql =
    s"""WITH t AS (SELECT doc_id, lang,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |g AS (SELECT doc_id, lang, list_concat(toks,
       |    CASE WHEN len(toks) >= 2 THEN
       |      list_transform(generate_series(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i + 1])
       |    ELSE CAST([] AS VARCHAR[]) END) AS grams FROM t),
       |x AS (SELECT doc_id, lang, unnest(grams) AS gr FROM g),
       |b AS (SELECT doc_id, lang,
       |    CAST('0x' || substr(md5(gr), 1, 6) AS INT) % $irBuckets AS bucket
       |  FROM x),
       |bc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt_r,
       |    CAST(SUM(CASE WHEN lang = '$irTargetLang' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cnt_t
       |  FROM b GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cnt_r) AS BIGINT) AS rr,
       |    CAST(SUM(cnt_t) AS BIGINT) AS tt FROM bc),
       |l AS (SELECT bucket, CAST(floor(ln(
       |      ((cnt_t + 1.0e0) * (rr + $irBuckets)) /
       |      ((cnt_r + 1.0e0) * (tt + $irBuckets))) * 1e6 + 0.5)
       |    AS BIGINT) AS llr
       |  FROM bc CROSS JOIN tot),
       |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |    CAST(SUM(llr) AS BIGINT) AS wsum
       |  FROM b JOIN l USING (bucket) GROUP BY 1)
       |SELECT doc_id, n_grams, wsum / 1e6 AS logw,
       |  CAST(CASE WHEN CAST(floor(ln(
       |        (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'),
       |          1, 6) AS INT) + 0.5e0) / 16777216.0e0) * 1e6 + 0.5) AS BIGINT)
       |      <= least(wsum, 0) THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM sc""".stripMargin

  /** The llr table as a DENSE bucket-indexed array — the bounded
    * (irBuckets longs) driver gather the STATELESS scorer (s14)
    * needs. Reads the shared [[dsirIndex]], so a session that has
    * already run d39 pays nothing here (and vice versa). */
  private[operators] def irLlrArray(s: SparkSession, dir: String)
      : Array[Long] = dsirIndex(s, dir)._2

  /** Stateless per-doc importance scorer against a FIXED llr table:
    * ONE HOF projection — no explode, no shuffle (the d38 discipline),
    * so it lifts onto a document readStream unchanged (s14). The table
    * rides as a dense array literal indexed by bucket — element_at on
    * an ARRAY is O(1) per gram where a map literal would be a linear
    * scan of all 4096 entries (measured: the map form made s14 the
    * suite's slowest query). Proven value-identical to the join form
    * in ImportanceAndDiversitySpec; the integer micro-nat sum makes
    * the HOF fold order-independent.
    *
    * `buckets` is the TRAINING-time hash-space dial: the scorer pmods
    * by `llr.length`, so an llr array that doesn't span the space the
    * stats were trained in silently mis-scores every gram. The caller
    * states the dial it trained with and we fail fast on mismatch
    * (ADVICE r11) instead of diverging quietly. */
  private[operators] def importanceScoreStateless(docs: DataFrame,
      llr: Array[Long], buckets: Int): DataFrame = {
    require(llr.length == buckets,
      s"llr array spans ${llr.length} buckets but the scorer was told " +
        s"$buckets — the dense training table must cover the hash space")
    val arr = typedLit(llr)
    val scored = docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokensOnce(col("text")).as("toks"))
      .withColumn("grams", expr(uniBigramExpr))
      .withColumn("wsum", aggregate(col("grams"), lit(0L),
        (acc, g) => acc + element_at(arr,
          (pmod(graft.functions.GraftFunctions.md5Prefix(g.cast("binary"), 6),
            lit(llr.length.toLong)) + lit(1L)).cast("int"))))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        col("wsum"))
    irVerdict(scored)
  }

  // ---- d40: tokenizer fertility audit per (lang, source) ----
  // The tokenizer-efficiency dashboard multilingual pretraining runs
  // before fixing a vocabulary: per (lang, source) cell, how many
  // subword pieces the tokenizer emits per whitespace word (fertility)
  // and how many characters each piece carries. The subword proxy is a
  // fixed-width segmenter — ceil(len/6) pieces per word, a stand-in
  // for a max-piece-length-6 vocabulary — so fertility rises exactly
  // where real BPE fertility rises: in cells whose word-length
  // distribution is long-tailed (compound-heavy languages), which is
  // the skew the audit exists to surface. (A script-class proxy would
  // also flag CJK, but this fixture's text is ascii words, where that
  // signal is vacuous.) Scale shape: one codegen'd projection (the
  // piece count is a HOF integer fold — exact in any order, no
  // explode) into a BOUNDED (langs × sources) hash agg with partials —
  // no joins, no windows. Ratios are divisions of exact integer
  // masses (identical IEEE division both engines), snapped floor-form.
  private def d40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"lang", $"source",
        length($"text").cast("long").as("nc"),
        TextOps.tokensOnce($"text").as("toks"))
      .select($"lang", $"source", $"nc",
        size($"toks").cast("long").as("nw"),
        expr("aggregate(toks, cast(0 as bigint), " +
          "(acc, t) -> acc + (length(t) + 5) div 6)").as("ns"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nw").as("ws_tokens"),
        sum($"ns").as("subword_tokens"), sum($"nc").as("char_mass"))
      .select($"lang", $"source", $"n_docs", $"ws_tokens",
        $"subword_tokens", $"char_mass",
        (floor($"subword_tokens" / $"ws_tokens" * 1e6 + 0.5) / 1e6)
          .as("fertility"),
        (floor($"char_mass" / $"subword_tokens" * 1e6 + 0.5) / 1e6)
          .as("chars_per_token"))
  }
  private val d40Sql =
    """WITH tk AS (SELECT lang, source, text,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
      |      AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |t AS (SELECT lang, source,
      |    CAST(length(text) AS BIGINT) AS nc,
      |    CAST(len(toks) AS BIGINT) AS nw,
      |    CAST(list_reduce(list_transform(toks,
      |      t -> (length(t) + 5) // 6), (a, b) -> a + b) AS BIGINT) AS ns
      |  FROM tk),
      |g AS (SELECT lang, source, COUNT(*) AS n_docs,
      |    CAST(SUM(nw) AS BIGINT) AS ws_tokens,
      |    CAST(SUM(ns) AS BIGINT) AS subword_tokens,
      |    CAST(SUM(nc) AS BIGINT) AS char_mass
      |  FROM t GROUP BY 1, 2)
      |SELECT lang, source, n_docs, ws_tokens, subword_tokens, char_mass,
      |  floor(subword_tokens / ws_tokens * 1e6 + 0.5) / 1e6
      |    AS fertility,
      |  floor(char_mass / subword_tokens * 1e6 + 0.5) / 1e6
      |    AS chars_per_token
      |FROM g""".stripMargin

  // ---- d41: per-source distinctive terms (log-odds ratio) ----
  // The corpus-comparison table curators read before weighting a
  // mixture: which words distinguish each source from the rest of the
  // corpus. The statistic is the "Fightin' Words" z-scored log-odds
  // ratio (Monroe et al.): per (source, term), the log odds of the
  // term inside the source minus the log odds in the REST of the
  // corpus under an add-one Dirichlet prior, normalized by the
  // estimator's standard error — raw frequency deltas would only
  // surface stopwords.
  //
  // Scale shape: explode → (source, term) hash agg; per-term corpus
  // totals by a term-key agg joined back ON THE TERM (the d18/d31
  // gram-key discipline — never all-pairs); per-source totals and the
  // (n_tot, V) scalar are BOUNDED aggregations that return as
  // broadcasts. The per-source top-N avoids v15's forbidden shape (a
  // k-partition window serializing vocab-sized partitions through
  // |sources| tasks): a salted PRE-PRUNE window first takes the top N
  // within each (source, term-hash shard) — partitions are vocab/S
  // sized — and only the surviving N×S rows per source meet the final
  // bounded window. Global top-N ⊆ union of shard top-Ns, so the
  // pre-prune is exact; the shard hash never leaves the plan.
  //
  // Exactness: the two lns are snapped floor-form to micro-nats per
  // aggregated (source, term) row and differenced as exact BIGINTs
  // (the d39 discipline); the variance term is a sum of two correctly-
  // rounded divisions of exact integers and sqrt is correctly rounded
  // by IEEE in both engines, so z is bit-identical cross-engine and
  // the (z DESC, term) ranking cannot diverge. Output z is snapped.
  private val loTopN = 5
  private val loShards = 8

  private def d41(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"source", explode(TextOps.tokensOnce($"text")).as("term"))
    val st = toks.groupBy($"source", $"term").agg(count(lit(1)).as("k_src"))
    val tt = st.groupBy($"term").agg(sum($"k_src").as("k_tot"))
    val ns = st.groupBy($"source").agg(sum($"k_src").as("n_src"))
    val glob = st.agg(sum($"k_src").as("n_tot"),
      countDistinct($"term").as("v_terms"))
    def lnMicro(c: org.apache.spark.sql.Column) =
      floor(log(c) * 1e6 + 0.5).cast("long")
    val kR = $"k_tot" - $"k_src"
    val a1 = ($"k_src" + 1.0) /
      ($"n_src" + $"v_terms" - $"k_src" - 1.0)
    val a2 = (kR + 1.0) /
      ($"n_tot" - $"n_src" + $"v_terms" - kR - 1.0)
    val variance = lit(1.0) / ($"k_src" + 1.0) + lit(1.0) / (kR + 1.0)
    val scored = st
      .join(tt, "term")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(glob))
      .select($"source", $"term", $"k_src",
        (((lnMicro(a1) - lnMicro(a2)) / 1e6) / sqrt(variance)).as("zval"))
    val wShard = org.apache.spark.sql.expressions.Window
      .partitionBy($"source", pmod(hash($"term"), lit(loShards)))
      .orderBy($"zval".desc, $"term")
    val wFinal = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"zval".desc, $"term")
    scored
      .withColumn("srn", row_number().over(wShard))
      .filter($"srn" <= loTopN).drop("srn")
      .withColumn("rank", row_number().over(wFinal).cast("long"))
      .filter($"rank" <= loTopN)
      .select($"source", $"rank", $"term", $"k_src",
        (floor($"zval" * 1e6 + 0.5) / 1e6).as("z"))
  }
  private val d41Sql =
    s"""WITH t AS (SELECT source,
       |    unnest(string_split(lower(trim(
       |      regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
       |  FROM documents WHERE length(trim(text)) > 0),
       |st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS k_src
       |  FROM t GROUP BY 1, 2),
       |tt AS (SELECT term, CAST(SUM(k_src) AS BIGINT) AS k_tot
       |  FROM st GROUP BY 1),
       |ns AS (SELECT source, CAST(SUM(k_src) AS BIGINT) AS n_src
       |  FROM st GROUP BY 1),
       |g AS (SELECT CAST(SUM(k_src) AS BIGINT) AS n_tot,
       |    CAST(COUNT(DISTINCT term) AS BIGINT) AS v_terms FROM st),
       |z AS (SELECT st.source, st.term, st.k_src,
       |    (CAST(floor(ln((st.k_src + 1.0e0) /
       |        (ns.n_src + g.v_terms - st.k_src - 1.0e0)) * 1e6 + 0.5)
       |      AS BIGINT)
       |     - CAST(floor(ln((tt.k_tot - st.k_src + 1.0e0) /
       |        (g.n_tot - ns.n_src + g.v_terms - (tt.k_tot - st.k_src)
       |          - 1.0e0)) * 1e6 + 0.5) AS BIGINT)) / 1e6
       |    / sqrt(1.0e0 / (st.k_src + 1.0e0)
       |         + 1.0e0 / (tt.k_tot - st.k_src + 1.0e0)) AS zval
       |  FROM st JOIN tt USING (term) JOIN ns USING (source) CROSS JOIN g),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY zval DESC, term) AS rn FROM z)
       |SELECT source, CAST(rn AS BIGINT) AS rank, term, k_src,
       |  floor(zval * 1e6 + 0.5) / 1e6 AS z
       |FROM r WHERE rn <= $loTopN""".stripMargin

  // ---- d42: dedup-tier agreement audit (exact vs bag-of-words) ----
  // The comparison a pipeline owner runs before paying for a stronger
  // dedup tier: per document, does the cheap tier (d01's exact
  // normalized-text hash) agree with the stronger one (d34's
  // word-SET signature, which also catches reordered/shuffled copies)?
  // Docs the bow tier drops but the exact tier keeps are exactly the
  // reordered near-duplicates the cheaper pipeline would leak into
  // training — the audit quantifies that mass per doc with both group
  // sizes attached. Tier lattice: identical text ⇒ identical word set,
  // so an exact dup is always a bow dup too; classes are 'exact_dup'
  // (both drop), 'reordered_dup' (only bow drops), 'unique' (both
  // keep), and the lattice is spec-asserted.
  //
  // Scale shape: one scan computes both signatures; each tier is a
  // sig-key hash agg joined back ON ITS SIG (the d01 discipline —
  // corpus-keyed shuffles, never all-pairs, no windows).
  private def d42(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id",
        md5(TextOps.normText($"text").cast("binary")).as("esig"),
        bowSig($"text").as("bsig"))
    val e = base.groupBy($"esig").agg(min($"doc_id").as("ekeeper"),
      count(lit(1)).as("exact_copies"))
    val b = base.groupBy($"bsig").agg(min($"doc_id").as("bkeeper"),
      count(lit(1)).as("bow_copies"))
    base.join(e, "esig").join(b, "bsig")
      .select($"doc_id", $"exact_copies", $"bow_copies",
        ($"doc_id" === $"ekeeper").cast("long").as("exact_keep"),
        ($"doc_id" === $"bkeeper").cast("long").as("bow_keep"),
        when($"doc_id" =!= $"ekeeper", lit("exact_dup"))
          .when($"doc_id" =!= $"bkeeper", lit("reordered_dup"))
          .otherwise(lit("unique")).as("tier"))
  }
  private val d42Sql =
    """WITH base AS (SELECT doc_id,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS esig,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))),
      |      ' ')) AS bsig
      |  FROM documents WHERE length(trim(text)) > 0),
      |e AS (SELECT esig, MIN(doc_id) AS ekeeper,
      |    CAST(COUNT(*) AS BIGINT) AS exact_copies FROM base GROUP BY 1),
      |b AS (SELECT bsig, MIN(doc_id) AS bkeeper,
      |    CAST(COUNT(*) AS BIGINT) AS bow_copies FROM base GROUP BY 1)
      |SELECT base.doc_id, e.exact_copies, b.bow_copies,
      |  CAST(CASE WHEN base.doc_id = e.ekeeper THEN 1 ELSE 0 END AS BIGINT)
      |    AS exact_keep,
      |  CAST(CASE WHEN base.doc_id = b.bkeeper THEN 1 ELSE 0 END AS BIGINT)
      |    AS bow_keep,
      |  CASE WHEN base.doc_id <> e.ekeeper THEN 'exact_dup'
      |       WHEN base.doc_id <> b.bkeeper THEN 'reordered_dup'
      |       ELSE 'unique' END AS tier
      |FROM base JOIN e USING (esig) JOIN b USING (bsig)""".stripMargin

  // ---- d43: Gopher-style repetition rule battery ----
  // The multi-n repetition filter battery from published web-corpus
  // curation recipes (Rae et al. "Gopher" Table A1; reused by
  // RefinedWeb/Dolma): per document, the fraction of tokens covered by
  // the single most frequent {2,3,4}-gram and the fraction of
  // {5,10}-gram OCCURRENCES that are repeats, each compared to the
  // published threshold. This is the token-fraction rendering of the
  // paper's character-fraction rules (same signal on word-tokenized
  // text; d13 is the single-n distinct-ratio cousin). Scale shape:
  // ONE tokenize pass fans out to a 5-way gram stream inside one
  // explode, then two hash aggs whose keys shrink monotonically —
  // (doc, n, gram) → (doc, n) → doc — all partial-aggregated map-side;
  // a document's contribution to any exchange is bounded by its own
  // gram count, and nothing is quadratic or windowed. Fractions are
  // single IEEE divisions of exact integer masses, so the verdict
  // compare cannot straddle a ulp cross-engine.
  private val gopherNs = Seq(2, 3, 4, 5, 10)
  // The whole battery is ONE native kernel call per doc
  // (GopherStatsExpr: per-width max/dup/total gram-occurrence counts
  // over per-doc interned token-id sequences — exactly the statistics
  // the old explode form shuffled ~24× token-count (doc, n, gram)
  // rows through two hash aggregations to reach). Zero Exchange, zero
  // Generate (pinned in GopherAndPerplexitySpec): repetition scoring now
  // pipelines with the scan like d38/d39, which is the property that
  // matters when the battery gates a 100 TB corpus. Identical
  // verdicts: gram equality is token-sequence equality in both forms
  // (whitespace-split tokens cannot contain the join separator), and
  // the frac arithmetic is the same long-mass division.
  private[operators] def gopherRules(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 10)
      .select($"doc_id", size($"toks").cast("long").as("n_tokens"),
        graft.functions.GraftFunctions.gopherStats($"toks", gopherNs).as("st"))
      .select($"doc_id", $"n_tokens",
        (($"st"(0).getField("max_c") * 2).cast("double") / $"n_tokens").as("top2_frac"),
        (($"st"(1).getField("max_c") * 3).cast("double") / $"n_tokens").as("top3_frac"),
        (($"st"(2).getField("max_c") * 4).cast("double") / $"n_tokens").as("top4_frac"),
        ($"st"(3).getField("dup_occ").cast("double") /
          $"st"(3).getField("tot")).as("dup5_frac"),
        ($"st"(4).getField("dup_occ").cast("double") /
          $"st"(4).getField("tot")).as("dup10_frac"))
      .withColumn("gopher_pass",
        ($"top2_frac" <= 0.20 && $"top3_frac" <= 0.18 &&
          $"top4_frac" <= 0.16 && $"dup5_frac" <= 0.15 &&
          $"dup10_frac" <= 0.10).cast("long"))
  }
  private def d43(s: SparkSession, dir: String): DataFrame =
    gopherRules(Tables(s, dir, "documents"))
  private val d43Sql =
    """WITH t AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |f AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks
      |  FROM t WHERE len(toks) >= 10),
      |e AS (SELECT doc_id, n_tokens, n,
      |    unnest(list_transform(generate_series(1, len(toks) - n + 1),
      |      i -> array_to_string(toks[i : i + n - 1], ' '))) AS gram
      |  FROM f CROSS JOIN (SELECT unnest([2, 3, 4, 5, 10]) AS n) ns),
      |gc AS (SELECT doc_id, n_tokens, n, gram, COUNT(*) AS c FROM e GROUP BY ALL),
      |pn AS (SELECT doc_id, n_tokens, n, CAST(MAX(c) AS BIGINT) AS max_c,
      |    CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup_occ,
      |    CAST(SUM(c) AS BIGINT) AS tot
      |  FROM gc GROUP BY ALL),
      |w AS (SELECT doc_id, n_tokens,
      |    MAX(CASE WHEN n = 2 THEN max_c END) AS m2,
      |    MAX(CASE WHEN n = 3 THEN max_c END) AS m3,
      |    MAX(CASE WHEN n = 4 THEN max_c END) AS m4,
      |    MAX(CASE WHEN n = 5 THEN dup_occ END) AS d5,
      |    MAX(CASE WHEN n = 5 THEN tot END) AS t5,
      |    MAX(CASE WHEN n = 10 THEN dup_occ END) AS d10,
      |    MAX(CASE WHEN n = 10 THEN tot END) AS t10
      |  FROM pn GROUP BY 1, 2)
      |SELECT doc_id, n_tokens,
      |  CAST(m2 * 2 AS DOUBLE) / n_tokens AS top2_frac,
      |  CAST(m3 * 3 AS DOUBLE) / n_tokens AS top3_frac,
      |  CAST(m4 * 4 AS DOUBLE) / n_tokens AS top4_frac,
      |  CAST(d5 AS DOUBLE) / t5 AS dup5_frac,
      |  CAST(d10 AS DOUBLE) / t10 AS dup10_frac,
      |  CAST(CASE WHEN CAST(m2 * 2 AS DOUBLE) / n_tokens <= 0.20
      |        AND CAST(m3 * 3 AS DOUBLE) / n_tokens <= 0.18
      |        AND CAST(m4 * 4 AS DOUBLE) / n_tokens <= 0.16
      |        AND CAST(d5 AS DOUBLE) / t5 <= 0.15
      |        AND CAST(d10 AS DOUBLE) / t10 <= 0.10
      |      THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
      |FROM w""".stripMargin

  // ---- d44: hashed-bigram LM perplexity filter ----
  // The CCNet-style LM quality gate: score every document by its mean
  // token log-probability under a bigram language model trained on the
  // corpus itself, and keep documents above a fixed cutoff (production
  // pipelines bucket into head/middle/tail the same way; one threshold
  // renders the same machinery). The model is add-one-smoothed over
  // HASHED features (the d38/d39 hashing trick):
  //   ln p(w|v) = ln(c2[h(v w)] + 1) − ln(c1[h(v)] + B)
  // with c2/c1 corpus bigram/unigram bucket counts over B slots.
  //
  // Scale shape: the index build is ONE tokenize+explode corpus pass
  // into a (is_bigram, bucket) hash agg — <= 2B rows, gathered
  // driver-side (the v05/dsir index-build pattern) and memoized per
  // (session, dataset, buckets); scoring is then a STATELESS HOF
  // projection over the token array — no explode, no join, no shuffle
  // — so it lifts onto a document readStream unchanged (s16) and a
  // fleet of probes amortizes the single corpus pass.
  //
  // Exactness: both transcendentals (ln) are snapped floor-form to
  // micro-nats per BUCKET at index build — O(B) sites, before any
  // per-doc use — so per-doc weights are exact-integer HOF sums
  // (order-independent), and the keep verdict is an integer compare
  // `wsum >= τ·n_bigrams`: no ulp can straddle it cross-engine. τ is
  // −4.96 nats/token, the fixture corpus median.
  private val lmBuckets = 4096
  private val lmTauMicro = -4960000L
  private val lmCache =
    new SessionCache[(String, Int), (Array[Long], Array[Long])](_ => ())

  /** The bigram-LM index: dense micro-nat arrays lnc (ln(c2+1) per
    * bigram bucket) and lnd (ln(c1+B) per unigram bucket), from one
    * corpus pass over the shared uni+bigram gram walk. Tokens never
    * contain spaces (whitespace split), so `gram contains ' '`
    * separates the two families without a second pass. */
  private[operators] def bigramLmIndex(s: SparkSession, dir: String,
      buckets: Int = lmBuckets): (Array[Long], Array[Long]) = {
    lmCache.getOrBuild(s, (dir, buckets)) {
      val counts = Tables(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(TextOps.tokensOnce(col("text")).as("toks"))
        .withColumn("grams", expr(uniBigramExpr))
        .select(explode(col("grams")).as("gram"))
        .select((instr(col("gram"), " ") > 0).as("bg"), expr(
          s"pmod(graft_md5_prefix(cast(gram as binary), 6), $buckets)")
          .as("bucket"))
        .groupBy(col("bg"), col("bucket"))
        .agg(count(lit(1)).as("c"))
        .collect() // bounded: <= 2 * buckets rows
      def micro(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
      val lnc = Array.fill(buckets)(micro(1.0))
      val lnd = Array.fill(buckets)(micro(buckets.toDouble))
      counts.foreach { r =>
        val b = r.getLong(1).toInt
        if (r.getBoolean(0)) lnc(b) = micro(r.getLong(2) + 1.0)
        else lnd(b) = micro(r.getLong(2) + buckets.toDouble)
      }
      (lnc, lnd)
    }
  }

  /** Stateless per-doc perplexity scorer against FIXED micro-nat LM
    * arrays: one HOF fold over bigram positions — per position,
    * lnc[h(toks[i] toks[i+1])] − lnd[h(toks[i])] — integer-exact in
    * any fold order. Dense-array element_at is O(1) per position (the
    * s14 lesson: a map literal is a linear scan). Input needs
    * (doc_id, text); batch scan or readStream alike (s16). */
  private[operators] def perplexityScoreStateless(docs: DataFrame,
      lnc: Array[Long], lnd: Array[Long]): DataFrame = {
    require(lnc.length == lnd.length && lnc.nonEmpty,
      "LM arrays must be same-length and cover every bucket")
    // r22: native BigramLmScoreExpr — one codegen'd bigram walk per
    // row (shared byte buffer; the unigram probe reuses the bigram
    // buffer's head) replaces the interpreted sequence+aggregate
    // lambda that paid two element_at + concat_ws + two interpreted
    // md5 probes per bigram; value-identical (HashExprsSpec)
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokensOnce(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        (size(col("toks")) - 1).cast("long").as("n_bigrams"),
        graft.functions.GraftFunctions.bigramLmScore(col("toks"), lnc, lnd)
          .as("wsum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("wsum") / 1e6 / col("n_bigrams")).as("logp_mean"),
        (col("wsum") >= lit(lmTauMicro) * col("n_bigrams"))
          .cast("long").as("keep"))
  }

  private def d44(s: SparkSession, dir: String): DataFrame = {
    val (lnc, lnd) = bigramLmIndex(s, dir)
    perplexityScoreStateless(Tables(s, dir, "documents"), lnc, lnd)
  }
  private[operators] val d44Sql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |g AS (SELECT list_concat(toks, CASE WHEN len(toks) >= 2 THEN
       |    list_transform(generate_series(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i + 1])
       |  ELSE CAST([] AS VARCHAR[]) END) AS grams FROM t),
       |x AS (SELECT unnest(grams) AS gr FROM g),
       |cb AS (SELECT CAST('0x' || substr(md5(gr), 1, 6) AS INT) % $lmBuckets AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM x WHERE contains(gr, ' ') GROUP BY 1),
       |cu AS (SELECT CAST('0x' || substr(md5(gr), 1, 6) AS INT) % $lmBuckets AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM x WHERE NOT contains(gr, ' ') GROUP BY 1),
       |lc AS (SELECT bucket, CAST(floor(ln(CAST(c AS DOUBLE) + 1.0e0) * 1e6 + 0.5)
       |    AS BIGINT) AS v FROM cb),
       |lu AS (SELECT bucket, CAST(floor(ln(CAST(c AS DOUBLE) + $lmBuckets.0e0) * 1e6 + 0.5)
       |    AS BIGINT) AS v FROM cu),
       |f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
       |occ AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> {'big': toks[i] || ' ' || toks[i + 1], 'uni': toks[i]})) AS o
       |  FROM f),
       |ob AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(o.big), 1, 6) AS INT) % $lmBuckets AS b2,
       |    CAST('0x' || substr(md5(o.uni), 1, 6) AS INT) % $lmBuckets AS b1
       |  FROM occ),
       |w AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(COALESCE(lc.v, 0) - COALESCE(lu.v,
       |      CAST(floor(ln($lmBuckets.0e0) * 1e6 + 0.5) AS BIGINT))) AS BIGINT) AS wsum
       |  FROM ob LEFT JOIN lc ON ob.b2 = lc.bucket LEFT JOIN lu ON ob.b1 = lu.bucket
       |  GROUP BY 1)
       |SELECT doc_id, n_bigrams, wsum / 1e6 / n_bigrams AS logp_mean,
       |  CAST(CASE WHEN wsum >= $lmTauMicro * n_bigrams THEN 1 ELSE 0 END
       |    AS BIGINT) AS keep
       |FROM w""".stripMargin

  // ---- d45: BM25 sparse retrieval over an inverted index ----
  // The lexical retrieval primitive curation pipelines run for
  // decontamination screens, near-dup triage, and retrieval-augmented
  // data selection: score corpus documents against query documents
  // with BM25 (k1 = 1.2, b = 0.75) and keep each query's top 10. The
  // engine is a real inverted index, not pairwise text compare: per
  // (doc, term) weights are precomputed once, the QUERY term set rides
  // a broadcast (queries are always the small side), the only
  // corpus-scale shuffles are keyed by term (posting-list build) and
  // by (query, doc) (score agg, partial-aggregated), and the final
  // top-k is the bounded-heap aggregate — no window over the corpus,
  // nothing quadratic in corpus size.
  //
  // Exactness: the ONE transcendental (the idf ln) is snapped
  // floor-form to micro units per TERM (vocab-bounded sites, the d17
  // discipline); the tf normalization is a fixed-op-order chain of
  // IEEE mul/div on exact integer masses (identical both engines),
  // and the per-(doc,term) weight is floor-snapped to an exact BIGINT
  // — so per-pair scores are INTEGER sums over shared terms,
  // order-independent, and the rank tiebreak (score desc, doc_id) can
  // never straddle a ulp cross-engine.
  private val bmTopK = 10
  private[operators] def d45(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      // tokensOnce: InferFiltersFromGenerate adds a size>0+isnotnull
      // filter under the explode below, and pushdown substitutes the
      // tokenizer chain into it — one extra tokenize per row. The
      // barrier keeps the inferred filter from ever being derived.
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
    val dl = t.select($"doc_id", size($"toks").cast("long").as("dl"))
    val tfc = t.select($"doc_id", explode($"toks").as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
    val st = dl.agg(count(lit(1)).as("nd"), sum($"dl").as("tt"))
    val idf = tfc.groupBy($"term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(st))
      .select($"term", expr(
        "cast(floor(ln((nd - df + 0.5) / (df + 0.5) + 1.0) * 1e6 + 0.5) " +
          "as bigint)").as("idf_micro"))
    val w = tfc.join(dl, "doc_id").join(idf, "term")
      .crossJoin(broadcast(st))
      .select($"doc_id", $"term", expr(
        "cast(floor(idf_micro * ((c * 2.2) / (c + 1.2 * (0.25 + 0.75 * " +
          "(cast(dl * nd as double) / tt)))) + 0.5) as bigint)").as("wm"))
    val q = tfc.filter($"doc_id" < 5).select($"doc_id".as("qid"), $"term")
    val scored = broadcast(q).join(w, "term")
      .filter($"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id").agg(sum($"wm").as("score"))
    graft.vec.VectorOps.topKPerQuery(
        scored.select($"qid", $"doc_id".as("vec_id"), $"score"), bmTopK)
      .select($"qid", $"rank", $"vec_id".as("doc_id"),
        ($"score" / 1e6).as("bm25"))
  }

  // r22: d45's lexical ranking (a bounded nQueries×bmTopK ≈ 50-row
  // frame) feeds v22's RRF fusion, which re-derived the whole BM25
  // inverted-index pass per invocation. Memoized per (session,
  // dataset) — the prEdges/exactTop amortization rule; d45's own bench
  // row keeps measuring the fresh derivation.
  private val bm25TopCache = new SessionCache[String, DataFrame](_.unpersist())
  private[operators] def bm25Top(s: SparkSession, dir: String): DataFrame =
    bm25TopCache.getOrBuild(s, dir) {
      val t = d45(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count()
      t
    }

  private[operators] val d45Sql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
       |tfc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS tt
       |  FROM d),
       |idf AS (SELECT term,
       |    CAST(floor(ln((nd - df + 0.5) / (df + 0.5) + 1.0) * 1e6 + 0.5)
       |      AS BIGINT) AS idf_micro
       |  FROM (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY 1)
       |    CROSS JOIN st),
       |w AS (SELECT tfc.doc_id, tfc.term,
       |    CAST(floor(idf_micro * ((c * 2.2) / (c + 1.2 * (0.25 + 0.75 *
       |      (CAST(dl * nd AS DOUBLE) / tt)))) + 0.5) AS BIGINT) AS wm
       |  FROM tfc JOIN d USING (doc_id) JOIN idf USING (term) CROSS JOIN st),
       |q AS (SELECT doc_id AS qid, term FROM tfc WHERE doc_id < 5),
       |sc AS (SELECT q.qid, w.doc_id, CAST(SUM(w.wm) AS BIGINT) AS sm
       |  FROM q JOIN w ON q.term = w.term AND w.doc_id <> q.qid
       |  GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY sm DESC, doc_id) AS rn FROM sc)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id, sm / 1e6 AS bm25
       |FROM r WHERE rn <= $bmTopK""".stripMargin

  // BM25 screen threshold: pairs scoring >= 5.0 are "contaminated"
  // (the fixture's max pair scores ~8.8, so the screen is selective
  // but non-empty at every sf).
  private[operators] val bmTauMicro = 5000000L
  private val bmCache = new SessionCache[String,
    (Seq[(Long, Seq[(String, Long)])], Long, Long)](_ => ())

  /** The BM25 query-side index for the streaming screen (s17): per
    * query doc, its term list with micro-nat idf weights, plus the
    * corpus stats (nd, tt) the tf normalization needs. ONE corpus pass
    * (the d45 df aggregation), then a bounded gather — the query set
    * is 5 docs, so the index is at most a few hundred (term, idf)
    * pairs; memoized per (session, dataset) with stopped-session
    * eviction, the lmCache pattern, so the stream and repeated bench
    * sweeps pay the corpus pass once. */
  private[operators] def bm25QueryIndex(s: SparkSession, dir: String)
      : (Seq[(Long, Seq[(String, Long)])], Long, Long) = {
    bmCache.getOrBuild(s, dir) {
      import s.implicits._
      val t = Tables(s, dir, "documents")
        .filter(length(trim($"text")) > 0)
        .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      val Array(nd, tt) = t
        .agg(count(lit(1)).cast("long"), sum(size($"toks")).cast("long"))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val tfc = t.select($"doc_id", explode($"toks").as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
      val idf = tfc.groupBy($"term").agg(count(lit(1)).as("df"))
        .select($"term", expr(
          s"cast(floor(ln(($nd - df + 0.5) / (df + 0.5) + 1.0) * 1e6 " +
            "+ 0.5) as bigint)").as("idf_micro"))
      val rows = tfc.filter($"doc_id" < 5)
        .join(idf, "term")
        .select($"doc_id", $"term", $"idf_micro")
        .collect() // bounded: distinct terms of the 5 query docs
      val byQ = rows.map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sortBy(_._1))
        .toSeq.sortBy(_._1)
      (byQ, nd, tt)
    }
  }

  /** Stateless per-doc BM25 screen against a FIXED query index: each
    * arriving document is scored in-row against every query's term
    * list — no join, no state, no explode of the corpus side. The tf
    * lookup is the native `graft_term_counts` kernel: ONE codegen'd
    * hash-probe pass over the doc's tokens builds the counts for the
    * whole query vocabulary, so per-row cost is O(dl + |q terms|),
    * not the O(dl · |q terms|) interpreted per-term HOF scans that
    * made the first cut of this scorer the suite's slowest query
    * (15.7 s at sf0.1 → the kernel form is ~20×). The per-(doc, term)
    * weight is the EXACT d45 formula (same op order, tf as the same
    * int), floor-snapped to an exact BIGINT, so the pair score is an
    * integer sum and the `sm >= tau` verdict can never straddle a ulp
    * cross-engine. Input needs (doc_id, text); batch scan or
    * readStream alike. */
  private[operators] def bm25ScoreStateless(docs: DataFrame,
      qTerms: Seq[(Long, Seq[(String, Long)])], nd: Long, tt: Long,
      tauMicro: Long = bmTauMicro): DataFrame = {
    require(qTerms.nonEmpty, "query index must be non-empty")
    val vocab = qTerms.flatMap(_._2.map(_._1)).distinct.sorted
    val idxOf = vocab.zipWithIndex.toMap
    val qlit = typedLit(qTerms.map { case (qid, ts) =>
      (qid, ts.map { case (t, w) => (idxOf(t), w) })
    })
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokensOnce(col("text")).as("toks"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.termCounts(col("toks"), vocab).as("tf"),
        size(col("toks")).cast("long").as("dl"))
      .select(col("doc_id"), col("tf"), col("dl"), explode(qlit).as("q"))
      .filter(col("doc_id") =!= col("q._1"))
      // r22: native Bm25SmExpr — one codegen'd loop over the query's
      // terms replaces the interpreted aggregate lambda (two
      // element_at + the full double chain per term); value-identical
      // (HashExprsSpec pins it against the HOF form)
      .select(col("q._1").as("qid"), col("doc_id"),
        graft.functions.GraftFunctions.bm25Sm(col("tf"), col("dl"),
          col("q._2"), nd, tt).as("sm"))
      .filter(col("sm") >= tauMicro)
      .select(col("qid"), col("doc_id"), (col("sm") / 1e6).as("bm25"))
  }

  /** Batch oracle for the streaming BM25 screen: d45's scoring CTEs
    * with the threshold instead of the top-k trim. */
  private[operators] val bm25ScreenSql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
       |tfc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS tt
       |  FROM d),
       |idf AS (SELECT term,
       |    CAST(floor(ln((nd - df + 0.5) / (df + 0.5) + 1.0) * 1e6 + 0.5)
       |      AS BIGINT) AS idf_micro
       |  FROM (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY 1)
       |    CROSS JOIN st),
       |w AS (SELECT tfc.doc_id, tfc.term,
       |    CAST(floor(idf_micro * ((c * 2.2) / (c + 1.2 * (0.25 + 0.75 *
       |      (CAST(dl * nd AS DOUBLE) / tt)))) + 0.5) AS BIGINT) AS wm
       |  FROM tfc JOIN d USING (doc_id) JOIN idf USING (term) CROSS JOIN st),
       |q AS (SELECT doc_id AS qid, term FROM tfc WHERE doc_id < 5),
       |sc AS (SELECT q.qid, w.doc_id, CAST(SUM(w.wm) AS BIGINT) AS sm
       |  FROM q JOIN w ON q.term = w.term AND w.doc_id <> q.qid
       |  GROUP BY 1, 2)
       |SELECT qid, doc_id, sm / 1e6 AS bm25 FROM sc
       |WHERE sm >= $bmTauMicro""".stripMargin

  // ---- d46: KMV distinct-count sketch per source ----
  // The bounded-sketch answer to "how many distinct tokens does each
  // source contribute" — the vocabulary-size audit a mixture designer
  // runs per shard without ever materializing a vocabulary. K-minimum-
  // values: hash every distinct term into a 40-bit space, keep the k
  // smallest hashes per source (the bounded-heap top-k aggregate, the
  // v01 engine with score = -h), and estimate the distinct count as
  // (k-1)·M / h_k; under k distinct hashes the sketch IS the exact
  // count. Scale shape: one tokenize pass, then hash aggs whose keys
  // shrink monotonically — (source, term) distinct → (source, h)
  // distinct → a k-element heap per source — all partial-aggregated
  // map-side; the only per-source state anywhere is k = 256 longs, and
  // the exact-count audit column rides the same deduped frame, so the
  // sketch's error is self-reported the way v13 audits the LSH ANN.
  // Exactness: h is the md5-prefix integer (the d10 cross-engine coin),
  // the estimator is one IEEE divide of exact integers ((k-1)·M =
  // 280375465082880 is a literal, exact in double), floor-snapped to
  // 1e-4 before compare; err_pct divides the SNAPPED estimate and
  // snaps again, so no ulp can straddle the verdict.
  private val kmvK = 256

  /** KMV core over a (source, term) frame: dedup → 40-bit md5 hash →
    * bounded-heap min-k per source → estimate, with the exact-count
    * audit from the same deduped frame. Factored so specs can drive
    * the ESTIMATOR branch (n ≥ k) with higher-cardinality inputs than
    * the fixture's 31-term vocabulary reaches. */
  private[operators] def kmvSketch(pairs: DataFrame): DataFrame = {
    val d = pairs.select(col("source"), col("term")).distinct()
    val exact = d.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    val hashes = d.select(col("source"),
        expr("graft_md5_prefix(cast(term as binary), 10)").as("h"))
      .distinct()
    val kmv = graft.vec.VectorOps.topKPerQuery(
      hashes.select(col("source").as("qid"), col("h").as("vec_id"),
        (-col("h")).cast("double").as("score")), kmvK)
    val est = kmv.groupBy(col("qid").as("source"))
      .agg(count(lit(1)).as("n_seen"),
        max(when(col("rank") === kmvK, -col("score"))).as("hk"))
      .select(col("source"), col("n_seen"), when(col("n_seen") < kmvK,
          col("n_seen").cast("double"))
        .otherwise(expr("floor(280375465082880.0 / hk * 1e4 + 0.5) / 1e4"))
        .as("est_distinct"))
    exact.join(est, "source")
      .select(col("source"), col("n_exact"), col("est_distinct"),
        expr("floor(abs(est_distinct - n_exact) / n_exact * 1e6 + 0.5) " +
          "/ 1e6").as("err_pct"))
  }

  private def d46(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kmvSketch(Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"source", explode(TextOps.tokensOnce($"text")).as("term")))
  }
  private val d46Sql =
    s"""WITH t AS (SELECT source,
       |    unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
       |  FROM documents WHERE length(trim(text)) > 0),
       |d AS (SELECT DISTINCT source, term FROM t),
       |x AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact FROM d GROUP BY 1),
       |h AS (SELECT DISTINCT source,
       |    CAST('0x' || substr(md5(term), 1, 10) AS BIGINT) AS h FROM d),
       |r AS (SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
       |k AS (SELECT source,
       |    CAST(COUNT(CASE WHEN rn <= $kmvK THEN 1 END) AS BIGINT) AS n_seen,
       |    MAX(CASE WHEN rn = $kmvK THEN h END) AS hk
       |  FROM r GROUP BY 1),
       |e AS (SELECT source, n_seen,
       |    CASE WHEN n_seen < $kmvK THEN CAST(n_seen AS DOUBLE)
       |      ELSE floor(280375465082880.0 / hk * 1e4 + 0.5) / 1e4
       |    END AS est_distinct FROM k)
       |SELECT x.source, n_exact, est_distinct,
       |  floor(abs(est_distinct - n_exact) / n_exact * 1e6 + 0.5) / 1e6
       |    AS err_pct
       |FROM x JOIN e ON x.source = e.source""".stripMargin

  // ---- d47: exact length quantiles via a bounded cumulative histogram ----
  // The per-source token-length distribution (p50/p90/p99) a curation
  // run reports before choosing packing lengths — computed WITHOUT
  // sorting the corpus or collecting per-group value lists (the
  // percentile-agg trap at 100 TB). Token counts live in a small
  // integer domain, so the exact type-1 quantile is a cumulative
  // histogram problem: count docs per (source, n_tokens) — a corpus
  // hash agg that shrinks to at most |sources|·max_len rows — then a
  // window ordered by n_tokens whose partitions are bounded by the
  // length DOMAIN (thousands of rows), not the corpus, and pick the
  // smallest length whose cumulative count clears ceil(q·n). All
  // integer arithmetic (cum·100 >= n·q100), so cross-engine exact.
  private def d47(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hist = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"source", size(TextOps.tokensOnce($"text")).cast("long").as("n_tokens"))
      .groupBy($"source", $"n_tokens").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_tokens")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum", sum($"c").over(w))
      .withColumn("n_docs", sum($"c").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
    def q(q100: Int, name: String) =
      min(when($"cum" * 100 >= $"n_docs" * q100, $"n_tokens")).as(name)
    cum.groupBy($"source")
      .agg(max($"n_docs").as("n_docs"), q(50, "p50"), q(90, "p90"),
        q(99, "p99"))
  }
  private val d47Sql =
    """WITH t AS (SELECT source,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |h AS (SELECT source, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
      |c AS (SELECT source, n_tokens,
      |    SUM(c) OVER (PARTITION BY source ORDER BY n_tokens) AS cum,
      |    SUM(c) OVER (PARTITION BY source) AS n_docs FROM h)
      |SELECT source, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
      |  CAST(MIN(CASE WHEN cum * 100 >= n_docs * 50 THEN n_tokens END) AS BIGINT) AS p50,
      |  CAST(MIN(CASE WHEN cum * 100 >= n_docs * 90 THEN n_tokens END) AS BIGINT) AS p90,
      |  CAST(MIN(CASE WHEN cum * 100 >= n_docs * 99 THEN n_tokens END) AS BIGINT) AS p99
      |FROM c GROUP BY 1""".stripMargin

  // ---- d48: cross-source n-gram overlap matrix (shard-leakage audit) ----
  // The pairwise contamination audit a mixture designer runs before
  // trusting per-source dedup/splits: for every source pair, how many
  // distinct 5-grams they share, as a fraction of each side's gram
  // set. High overlap means two shards are the same crawl in different
  // clothes — dedup/decontamination must treat them jointly (and a
  // leakage-safe split must not put one per side). Scale shape is the
  // d18/d31 discipline: one explode to distinct (source, gram) — the
  // corpus-keyed shuffle — then a gram-KEY self-join whose per-gram
  // fanout is bounded by sources² (≤ 20² here, never corpus-quadratic)
  // collapsing immediately into a ≤ sources² hash agg; totals ride the
  // same deduped frame. Fractions are single IEEE divisions of exact
  // integers, floor-snapped, so the matrix is ulp-safe cross-engine.
  private def d48(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r19 shuffle diet (the d54 treatment on its sibling): grams hash
    // to 8-byte longs in the explode projection, so the corpus-wide
    // distinct and the pairwise intersection self-join never shuffle
    // gram strings. Set counts over g equal set counts over the
    // strings under the collision-free premise; the string-keyed
    // DuckDB oracle is the cross-hash check.
    //
    // r22: the gram strings never materialize — d82's window-hash
    // kernel emits values IDENTICAL to xxhash64(concat_ws(' ',
    // window)) (same bytes, same seed — GramHashesExpr Scaladoc), and
    // the (source, g) distinct below collapses the positioned
    // multiset to exactly the set the per-doc string distinct fed it:
    // output-identical with NO new premise (the set of hash values of
    // a multiset is the set of hash values of its support).
    val g = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"source", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 5)
      .select($"source", explode(
        graft.functions.GraftFunctions.gramHashes($"toks", 5)).as("g"))
      .distinct()
    val tot = g.groupBy($"source").agg(count(lit(1)).as("n"))
    // both sides are the corpus-proportional gram-set frame: the
    // self-join must stay SHUFFLED (fixture-scale AQE would otherwise
    // broadcast a side that is GBs at 100 TB; the d90/d91 rule).
    // shuffle_hash, not merge: equal-size high-cardinality long keys
    // need no sort, and ShuffledHashJoin spills — the shape that is
    // both the fixture-cheap and the 100 TB plan
    val shared = g.select($"g", $"source".as("sa"))
      .join(g.select($"g", $"source".as("sb")).hint("shuffle_hash"), "g")
      .filter($"sa" < $"sb")
      .groupBy($"sa", $"sb").agg(count(lit(1)).as("n_shared"))
    shared
      .join(tot.select($"source".as("sa"), $"n".as("na")), "sa")
      .join(tot.select($"source".as("sb"), $"n".as("nb")), "sb")
      .select($"sa", $"sb", $"n_shared", $"na", $"nb",
        expr("floor(n_shared / cast(na as double) * 1e6 + 0.5) / 1e6")
          .as("frac_a"),
        expr("floor(n_shared / cast(nb as double) * 1e6 + 0.5) / 1e6")
          .as("frac_b"))
  }
  private val d48Sql =
    """WITH t AS (SELECT source,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |f AS (SELECT source, toks FROM t WHERE len(toks) >= 5),
      |g AS (SELECT DISTINCT source, gram FROM (SELECT source,
      |    unnest(list_transform(generate_series(1, len(toks) - 4),
      |      i -> array_to_string(toks[i : i + 4], ' '))) AS gram FROM f)),
      |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1),
      |sh AS (SELECT a.source AS sa, b.source AS sb,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT sa, sb, n_shared, ta.n AS na, tb.n AS nb,
      |  floor(n_shared / CAST(ta.n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS frac_a,
      |  floor(n_shared / CAST(tb.n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS frac_b
      |FROM sh JOIN tot ta ON sh.sa = ta.source
      |  JOIN tot tb ON sh.sb = tb.source""".stripMargin

  // ---- d49: HLL-style mergeable distinct sketch (5-gram mass) ----
  // The second distinct-count sketch, complementary to d46's KMV: HLL
  // registers are MERGEABLE — per-shard sketches combine with a
  // bucket-wise max, no rescan — which is how a 100 TB lake answers
  // "distinct 5-gram mass per source AND overall" from per-shard
  // state. The query emits every source's estimate plus a `__all__`
  // union row that the ENGINE computes by merging the per-source
  // registers; the ORACLE recomputes that row from the raw union of
  // grams — so the cross-engine hash equality IS the proof that
  // register merge ≡ full rescan. Scale shape: one explode to the
  // deduped (source, gram) frame (shared with the exact-count audit
  // column, the d46 pattern), collapsing to ≤ sources·256 register
  // rows before any further work; the estimate is a 256-row-per-group
  // fold. Exactness: rho is INTEGER (41 − bit_length via `bin`, no
  // log); register sums are exact dyadic integers Σ 2^(41−r) so the
  // raw estimate is ONE IEEE divide of a literal by an exact BIGINT;
  // the small-range branch's ln has a 256-value bounded domain and is
  // floor-snapped (the d17/d39 transcendental discipline); the branch
  // test compares bit-identical doubles against literals.
  /** The deduped (source, 5-gram) frame the sketch and its exact-count
    * audit share. */
  /** (source, gram) OCCURRENCES — no set dedup. The register leg's
    * input: max over a multiset equals max over its set, so the HLL
    * fold needs no corpus-wide gram-string distinct (the streaming leg
    * always skipped it); r19 moved batch d49 onto this form too — its
    * only large shuffle was the dedup, while the occurrence form
    * partial-aggregates map-side straight to (source, bucket) rows.
    * The exact-count audit keeps the distinct: sets ARE its value. */
  private[operators] def gramOccurrences(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"source", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 5)
      .select($"source", explode(TextOps.shingles("toks", 5)).as("gram"))
  }

  private[operators] def gramSets(s: SparkSession, dir: String): DataFrame =
    gramOccurrences(s, dir).distinct()

  /** (source, gram) stream → HLL register table (source, bucket, r).
    * Max over a multiset equals max over its set, so callers may skip
    * the dedup (the streaming leg does — no second agg needed). */
  private[graft] def hllRegisters(grams: DataFrame): DataFrame =
    grams.select(col("source"),
        expr("graft_md5_prefix(cast(gram as binary), 12)").as("h"))
      .select(col("source"), expr("shiftright(h, 40)").as("bucket"),
        expr("h & 1099511627775").as("w"))
      .groupBy(col("source"), col("bucket"))
      .agg(max(expr("case when w = 0 then 41 else 41 - length(bin(w)) end"))
        .as("r"))

  /** Registers → the full d49 result: merge the per-source registers
    * into the `__all__` row, estimate, and attach the exact-count
    * audit from the reference corpus. Shared by d49 and the streaming
    * register-maintenance leg (s18) so both produce bit-identical
    * output from any value-identical register table. */
  private[operators] def hllFinish(s: SparkSession, dir: String,
      regs: DataFrame): DataFrame = {
    import s.implicits._
    val merged = regs.groupBy($"bucket").agg(max($"r").as("r"))
      .select(lit("__all__").as("source"), $"bucket", $"r")
    val est = hllEstimate(regs.unionByName(merged))
    // r19 shuffle diet: the exact-count audit's corpus-wide distincts
    // run over 8-byte xxhash64 keys, not gram strings (the d54/d82
    // discipline; set counts are equal under the collision-free
    // premise, and the string-keyed oracle is the cross-hash check).
    // The register leg above still hashes gram STRINGS through md5 —
    // that hash IS the oracle-shared sketch coin — but only inside its
    // projection stage; nothing string-keyed crosses an exchange.
    val gd = gramOccurrences(s, dir)
      .select($"source", xxhash64($"gram").as("g")).distinct()
    val exact = gd.groupBy($"source").agg(count(lit(1)).as("n_exact"))
      .unionByName(gd.select($"g").distinct()
        .agg(count(lit(1)).as("n_exact"))
        .select(lit("__all__").as("source"), $"n_exact"))
    est.join(exact, "source")
      .select($"source", $"n_exact", $"est_distinct",
        expr("floor(abs(est_distinct - n_exact) / n_exact * 1e6 + 0.5) " +
          "/ 1e6").as("err_pct"))
  }

  /** The register build with the explode folded away: one
    * TypedImperativeAggregate walks each doc's 5-token windows (the
    * gramHashes byte walk, md5-prefix coin) and folds a 256-BYTE
    * per-source buffer — no gram row, shingle array, or per-doc
    * distinct is ever materialized, and streaming state is ONE row
    * per source (s18). Emits the same (source, bucket, r) rows as
    * [[hllRegisters]] (multiset-max ≡ set-max, identical md5 coin),
    * so hllFinish and every d49/s18 oracle are unchanged — equality
    * is additionally pinned in SketchAndQuantileSpec. Input needs
    * (source, text). */
  private[graft] def hllRegistersFused(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), TextOps.tokensOnce(col("text")).as("toks"))
      .groupBy(col("source"))
      .agg(graft.functions.GraftFunctions.hllRegs(col("toks"), 5).as("regs"))
      .select(col("source"), explode(col("regs")).as("br"))
      .select(col("source"), col("br.bucket").as("bucket"),
        col("br.r").as("r"))

  private def d49(s: SparkSession, dir: String): DataFrame =
    hllFinish(s, dir, hllRegistersFused(Tables(s, dir, "documents")))

  /** HLL register table (source, bucket, r) → (source, est_distinct):
    * m = 256 buckets over a 40-bit rho domain; empty buckets count as
    * 2^0 via the (256 − nb) term; small-range linear counting below
    * the standard 2.5·m threshold. Factored so specs can drive the
    * branch the fixture doesn't reach. */
  private[operators] def hllEstimate(regs: DataFrame): DataFrame =
    regs.groupBy(col("source")).agg(
        count(lit(1)).as("nb"),
        sum(expr("shiftleft(cast(1 as bigint), 41 - r)")).as("ps"))
      .select(col("source"), col("nb"), expr(
        "1.0351398986589102e17 / (ps + (256 - nb) * 2199023255552)")
        .as("raw"))
      .select(col("source"), expr(
        "floor(case when nb < 256 and raw <= 640.0 " +
          "then 256.0 * ln(256.0 / (256 - nb)) else raw end * 1e4 + 0.5) " +
          "/ 1e4").as("est_distinct"))

  private[operators] val d49Sql =
    """WITH t AS (SELECT source,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |f AS (SELECT source, toks FROM t WHERE len(toks) >= 5),
      |g AS (SELECT DISTINCT source, gram FROM (SELECT source,
      |    unnest(list_transform(generate_series(1, len(toks) - 4),
      |      i -> array_to_string(toks[i : i + 4], ' '))) AS gram FROM f)),
      |ga AS (SELECT source, gram FROM g
      |  UNION ALL SELECT '__all__' AS source, gram
      |  FROM (SELECT DISTINCT gram FROM g)),
      |h AS (SELECT source,
      |    CAST('0x' || substr(md5(gram), 1, 12) AS BIGINT) AS h FROM ga),
      |rg AS (SELECT source, h >> 40 AS bucket,
      |    MAX(CASE WHEN h & 1099511627775 = 0 THEN 41
      |      ELSE 41 - length(bin(h & 1099511627775)) END) AS r
      |  FROM h GROUP BY 1, 2),
      |es AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nb,
      |    CAST(SUM(CAST(1 AS BIGINT) << (41 - r)) AS BIGINT) AS ps
      |  FROM rg GROUP BY 1),
      |er AS (SELECT source, nb,
      |    1.0351398986589102e17 / (ps + (256 - nb) * 2199023255552) AS raw
      |  FROM es),
      |ee AS (SELECT source,
      |    floor(CASE WHEN nb < 256 AND raw <= 640e0
      |      THEN 256e0 * ln(256e0 / (256 - nb)) ELSE raw END * 1e4 + 0.5)
      |      / 1e4 AS est_distinct FROM er),
      |xx AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
      |  FROM ga GROUP BY 1)
      |SELECT xx.source, n_exact, est_distinct,
      |  floor(abs(est_distinct - n_exact) / n_exact * 1e6 + 0.5) / 1e6
      |    AS err_pct
      |FROM xx JOIN ee ON xx.source = ee.source""".stripMargin

  // ---- d50: chunk-level language consistency (code-switching filter) ----
  // Doc-level lang-id (d04) passes documents whose halves are in
  // different languages — exactly the concatenation/boilerplate
  // artifacts a multilingual curation run wants flagged. Re-run the
  // d04 stopword scorer over fixed 32-token chunks and report each
  // document's agreement between chunk verdicts and its doc-level
  // verdict; low agreement = code-switching/mixed-content candidate.
  // Scale shape: one projection computes the doc verdict, one explode
  // fans out ≤ ceil(n/32) chunks (bounded by the doc's own length),
  // and one doc-keyed hash agg folds the agreement — the d43 pattern,
  // nothing quadratic, no windows. The consistency fraction is one
  // IEEE division of exact integers, floor-snapped, and the mixed
  // verdict compares the SNAPPED value so no ulp can straddle it.
  private val lcW = 32
  private def d50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def langCase(pre: String) =
      when(col(s"${pre}en") >= col(s"${pre}fr") &&
          col(s"${pre}en") >= col(s"${pre}es") &&
          col(s"${pre}en") >= col(s"${pre}de"), "en")
        .when(col(s"${pre}fr") >= col(s"${pre}es") &&
          col(s"${pre}fr") >= col(s"${pre}de"), "fr")
        .when(col(s"${pre}es") >= col(s"${pre}de"), "es")
        .otherwise("de")
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .select($"doc_id",
        hitCount("toks", stopEn).as("den"),
        hitCount("toks", stopFr).as("dfr"),
        hitCount("toks", stopEs).as("des"),
        hitCount("toks", stopDe).as("dde"),
        explode(expr(
          s"transform(sequence(0, cast(ceil(size(toks) / $lcW.0) as int)" +
            s" - 1), i -> slice(toks, i * $lcW + 1, $lcW))")).as("chunk"))
      .select($"doc_id", langCase("d").as("doc_lang"),
        hitCount("chunk", stopEn).as("cen"),
        hitCount("chunk", stopFr).as("cfr"),
        hitCount("chunk", stopEs).as("ces"),
        hitCount("chunk", stopDe).as("cde"))
      .select($"doc_id", $"doc_lang",
        (langCase("c") === $"doc_lang").cast("long").as("m"))
      .groupBy($"doc_id", $"doc_lang")
      .agg(count(lit(1)).as("n_chunks"), sum($"m").as("n_match"))
      .select($"doc_id", $"doc_lang", $"n_chunks", $"n_match",
        expr("floor(n_match / cast(n_chunks as double) * 1e6 + 0.5) / 1e6")
          .as("consistency"))
      .withColumn("mixed", ($"consistency" < 0.8).cast("long"))
  }
  private val d50Sql = {
    def cse(p: String) =
      s"""CASE WHEN ${p}en >= ${p}fr AND ${p}en >= ${p}es AND ${p}en >= ${p}de THEN 'en'
         |    WHEN ${p}fr >= ${p}es AND ${p}fr >= ${p}de THEN 'fr'
         |    WHEN ${p}es >= ${p}de THEN 'es' ELSE 'de' END""".stripMargin
    s"""WITH x AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |dl AS (SELECT doc_id, ${cse("d")} AS doc_lang
       |  FROM (SELECT doc_id,
       |      ${duckHitCount("toks", stopEn)} AS den,
       |      ${duckHitCount("toks", stopFr)} AS dfr,
       |      ${duckHitCount("toks", stopEs)} AS des,
       |      ${duckHitCount("toks", stopDe)} AS dde
       |    FROM x) t),
       |c AS (SELECT doc_id, unnest(list_transform(
       |    generate_series(1, CAST(ceil(len(toks) / ${lcW}e0) AS BIGINT)),
       |    i -> toks[(i - 1) * $lcW + 1 : least(i * $lcW, len(toks))]))
       |    AS chunk FROM x),
       |cl AS (SELECT doc_id, ${cse("c")} AS chunk_lang
       |  FROM (SELECT doc_id,
       |      ${duckHitCount("chunk", stopEn)} AS cen,
       |      ${duckHitCount("chunk", stopFr)} AS cfr,
       |      ${duckHitCount("chunk", stopEs)} AS ces,
       |      ${duckHitCount("chunk", stopDe)} AS cde
       |    FROM c) t),
       |a AS (SELECT cl.doc_id, doc_lang,
       |    CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |    CAST(SUM(CASE WHEN chunk_lang = doc_lang THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_match
       |  FROM cl JOIN dl ON cl.doc_id = dl.doc_id GROUP BY 1, 2)
       |SELECT doc_id, doc_lang, n_chunks, n_match,
       |  floor(n_match / CAST(n_chunks AS DOUBLE) * 1e6 + 0.5) / 1e6
       |    AS consistency,
       |  CAST(CASE WHEN floor(n_match / CAST(n_chunks AS DOUBLE) * 1e6
       |      + 0.5) / 1e6 < 0.8 THEN 1 ELSE 0 END AS BIGINT) AS mixed
       |FROM a""".stripMargin
  }

  // ---- d51: BM25 decontamination APPLY (retrieval-screened corpus) ----
  // s17/d45 screen; this emits. The d33 pairing applied to the
  // RETRIEVAL screen: any document whose BM25 score against any query
  // document reaches the screen threshold is dropped (it is
  // lexically retrievable from the eval set — the
  // retrieval-augmented contamination case n-gram screens miss when
  // overlap is spread across many short matches), the query documents
  // themselves are excluded by definition, and unscoreable docs
  // (blank) are kept. Engine: the SAME stateless kernel scorer the
  // stream runs (one codegen'd pass per doc, no join) feeds a doc-key
  // anti-join — never all-pairs; the kept text is identity-checked by
  // md5 so the oracle gates the emitted corpus, not just verdicts.
  private def d51(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (qts, nd, tt) = bm25QueryIndex(s, dir)
    val hits = bm25ScoreStateless(
        Tables(s, dir, "documents"), qts, nd, tt)
      .select($"doc_id").distinct()
    Tables(s, dir, "documents")
      .filter($"doc_id" >= 5)
      .join(hits, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"source", md5($"text").as("text_md5"))
  }
  private val d51Sql =
    s"""WITH sc AS ($bm25ScreenSql)
       |SELECT doc_id, source, md5(text) AS text_md5
       |FROM documents
       |WHERE doc_id >= 5
       |  AND doc_id NOT IN (SELECT DISTINCT doc_id FROM sc)""".stripMargin

  // ---- d52: token-distribution Gini (corpus-diversity QA) ----
  // How concentrated is each source's token mass? Gini ≈ 0 means a
  // flat, diverse vocabulary; Gini → 1 means a few tokens dominate —
  // the template/boilerplate smell a mixture designer weighs before
  // upsampling a source. Computed from the rank-weighted form
  // Σ(2i − n − 1)·fᵢ / (n·Σfᵢ) over frequencies sorted ascending.
  // Scale shape: one tokenize pass → (source, term) hash agg (the
  // corpus-keyed shuffle) → count-of-counts histogram whose windows
  // are bounded by the count-value DOMAIN, not the vocabulary (the
  // d47 argument) → per-source scalar agg. Exactness: the weighted terms
  // are exact integers folded through DECIMAL(38,0) (no bigint
  // overflow at production vocab·frequency scales, matching DuckDB's
  // HUGEINT sums), and the Gini is one IEEE division of the two
  // exact totals, floor-snapped.
  private def d52(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"source", explode(TextOps.tokensOnce($"text")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("c"))
    // Collapse the vocabulary to the COUNT-OF-COUNTS histogram per
    // source before any window (Zipf makes distinct count values
    // ~O(sqrt(occurrences)), so the windows below run over
    // domain-bounded histogram rows — never a vocabulary-sized rank
    // partition through one task, the r14-verdict d52 finding). The
    // tie-group algebra is exact: the m terms tied at count c occupy
    // ranks prev+1..prev+m, and the rank-weighted sum over that run
    // telescopes to c*m*(2*prev + m - n) independent of any tiebreak
    // order, so the histogram form is bit-identical to the oracle's
    // row_number form (the d76 midrank precedent).
    val cc = tf.groupBy($"source", $"c").agg(count(lit(1)).as("m"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"c".asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wn = org.apache.spark.sql.expressions.Window.partitionBy($"source")
    cc.withColumn("prev", sum($"m").over(wCum) - $"m")
      .withColumn("n", sum($"m").over(wn))
      .groupBy($"source")
      .agg(max($"n").as("n_terms"), sum($"c" * $"m").as("total_occ"),
        sum($"c".cast("decimal(38,0)") * $"m".cast("decimal(38,0)") *
          ($"prev" * 2 + $"m" - $"n").cast("decimal(38,0)")).as("num"))
      .select($"source", $"n_terms", $"total_occ",
        expr("floor(cast(num as double) / " +
          "cast(n_terms * total_occ as double) * 1e6 + 0.5) / 1e6")
          .as("gini"))
  }
  private val d52Sql =
    """WITH t AS (SELECT source,
      |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
      |  FROM documents WHERE length(trim(text)) > 0),
      |tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM t GROUP BY 1, 2),
      |r AS (SELECT source, c,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY c, term)
      |      AS BIGINT) AS i,
      |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM tf),
      |a AS (SELECT source, CAST(MAX(n) AS BIGINT) AS n_terms,
      |    CAST(SUM(c) AS BIGINT) AS total_occ,
      |    SUM((i * 2 - n - 1) * c) AS num
      |  FROM r GROUP BY 1)
      |SELECT source, n_terms, total_occ,
      |  floor(CAST(num AS DOUBLE) / CAST(n_terms * total_occ AS DOUBLE)
      |    * 1e6 + 0.5) / 1e6 AS gini
      |FROM a""".stripMargin

  // ---- d53: FUZZY benchmark decontamination (near-dup screen) ----
  // d23 catches verbatim 5-gram overlap; paraphrased or lightly-edited
  // benchmark leakage slips through it. This is the near-dup tier of
  // the decontamination ladder: the eval slice's minhash signatures are
  // banded (d10's LSH machinery, md5 hash so the whole path is
  // cross-engine) and every corpus doc that lands in an eval band
  // bucket is slot-agreement verified — a corpus doc whose estimated
  // Jaccard to ANY eval doc clears the d10 family's 0.2 floor is a
  // fuzzy contamination hit. Scale shape: the screen is ASYMMETRIC —
  // the benchmark suite is bounded, so its banded codes broadcast and
  // the corpus side is one stateless projection + broadcast probe,
  // never a corpus self-join (the d10 pair engine is quadratic in
  // bucket occupancy; this is linear in corpus size). Corpus-internal
  // near-dups (the d06/d10 population) are correctly NOT hits: dedup's
  // business, not decontamination's. Universe is the d10 oracle slice
  // (interpreted md5 HOF cost — the production screen would run the
  // native xxhash64 sibling exactly as d06 does vs d10).
  private[operators] val fuzzyEvalN = 100
  private def d53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = mhSliceSigs(s, dir)
    val corpBand = mhBandedOf(sigs.filter($"doc_id" >= fuzzyEvalN))
    val evalBand = mhBandedOf(sigs.filter($"doc_id" < fuzzyEvalN))
      .withColumnsRenamed(Map("doc" -> "edoc", "band" -> "eband",
        "bucket" -> "ebucket"))
    val matches = corpBand.join(broadcast(evalBand),
        $"band" === $"eband" && $"bucket" === $"ebucket")
      .select($"doc".as("id_a"), $"edoc".as("id_b"))
    mhPairsRollup(matches, sigs)
      .withColumnsRenamed(Map("id_a" -> "doc_id", "id_b" -> "eval_id"))
  }
  private val d53Sql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE doc_id < $oracleSliceN AND length(trim(text)) > 0),
       |  s AS (SELECT doc_id, list_distinct(list_transform(
       |      generate_series(1, len(toks) - 2),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
       |    FROM t WHERE len(toks) >= 3),
       |  sig AS (SELECT doc_id, list_transform(generate_series(0, ${mhK - 1}),
       |      i -> list_min(list_transform(sh,
       |        x -> md5(CAST(i AS VARCHAR) || ' ' || x)))) AS sig
       |    FROM s),
       |  banded AS (SELECT doc_id, b.range AS band,
       |      md5(CAST(b.range AS VARCHAR) || '|' || array_to_string(
       |        sig[b.range * ${mhK / mhBands} + 1 : b.range * ${mhK / mhBands} + ${mhK / mhBands}], '|')) AS bucket
       |    FROM sig CROSS JOIN range($mhBands) b),
       |  cand AS (SELECT x.doc_id AS doc_id, y.doc_id AS eval_id,
       |      COUNT(*) AS n_bands
       |    FROM banded x JOIN banded y
       |      ON x.band = y.band AND x.bucket = y.bucket
       |      AND x.doc_id >= $fuzzyEvalN AND y.doc_id < $fuzzyEvalN
       |    GROUP BY 1, 2)
       |SELECT c.doc_id, c.eval_id, c.n_bands,
       |  CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |    p -> p[1] = p[2])) AS DOUBLE) / $mhK AS est_jaccard
       |FROM cand c JOIN sig sa ON c.doc_id = sa.doc_id
       |JOIN sig sb ON c.eval_id = sb.doc_id
       |WHERE CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |    p -> p[1] = p[2])) AS DOUBLE) / $mhK >= 0.2""".stripMargin

  // ---- d54: pairwise source Jaccard via bottom-k sketches ----
  // d48 answers "how much 5-gram mass do two shards share" with a
  // gram-KEY self-join over the full distinct gram set; this is the
  // sketch that replaces it at 100 TB: per source, the k smallest
  // 40-bit gram hashes (the d46 KMV engine — a bounded-heap top-k,
  // mergeable, k longs per shard forever), and the classic bottom-k
  // Jaccard estimator between every shard pair — est = |{h ∈ B_k(A∪B):
  // h ∈ A ∧ h ∈ B}| / |B_k(A∪B)| — computed purely over the sketches.
  // The exact pair Jaccard (the d48 engine) rides along as the
  // self-audit column, d46-style, so the estimator's error is
  // self-reported. Scale shape: one tokenize pass feeds BOTH the
  // bounded heaps and the exact audit; everything downstream of the
  // (source, gram) dedup is sketch-sized (sources·k rows) or
  // pair-sized (sources² rows) — at production scale the audit branch
  // is the part you drop, and what remains never shuffles more than
  // sources·k longs. Exactness: hashes are exact integers, the union
  // bottom-k is a window over ≤2k-row partitions (pair domain, not
  // corpus), and est/exact/err are floor-snapped divisions of exact
  // integers — the d46 cross-engine recipe.
  private val sjK = 128
  private def d54(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r19 shuffle diet (the d49/gram-kernel discipline): per-doc
    // array_distinct collapses within-doc gram repeats BEFORE the
    // explode, and every occurrence is hashed ONCE in the projection —
    // g = xxhash64(sh) as the set-identity key (the corpus-wide
    // distinct and the pairwise self-join now shuffle 8-byte longs,
    // never gram strings), h = the oracle-shared 40-bit md5 KMV hash.
    // Set counts over g equal set counts over sh under the same
    // collision-free premise every hash-keyed family stands on; the
    // DuckDB oracle re-derives everything from gram STRINGS, so the
    // shared oracle is also the cross-hash check.
    val hashed = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"source", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 5)
      .select($"source",
        explode(array_distinct(TextOps.shingles("toks", 5))).as("sh"))
      .select($"source", xxhash64($"sh").as("g"),
        expr("graft_md5_prefix(cast(sh as binary), 10)").as("h"))
    val grams = hashed.select($"source", $"g").distinct()
    val sizes = grams.groupBy($"source").agg(count(lit(1)).as("n"))
    // corpus-proportional self-join: shuffled, never broadcast (the
    // d48 rationale — fixture-scale AQE would broadcast the
    // 16-byte-row frame that is GBs at 100 TB); shuffle_hash skips
    // the sort merge would pay on the 8-byte keys
    val inter = grams.as("x").join(grams.as("y").hint("shuffle_hash"), Seq("g"))
      .filter($"x.source" < $"y.source")
      .groupBy($"x.source".as("src_a"), $"y.source".as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = sizes.as("a").join(sizes.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce($"n_inter", lit(0L)))
      .withColumn("exact_jaccard", expr(
        "floor(n_inter / cast(n_a + n_b - n_inter as double) * 1e6 + 0.5) / 1e6"))
    val hashes = hashed.select($"source", $"h").distinct()
    val sk = graft.vec.VectorOps.topKPerQuery(
        hashes.select($"source".as("qid"), $"h".as("vec_id"),
          (-$"h").cast("double").as("score")), sjK)
      .select($"qid".as("src"), $"vec_id".as("h"))
    val pairKeys = pairs.select($"src_a", $"src_b")
    val tagged = sk.join(broadcast(pairKeys), $"src" === $"src_a")
      .select($"src_a", $"src_b", $"h",
        lit(1L).as("ia"), lit(0L).as("ib"))
      .union(sk.join(broadcast(pairKeys), $"src" === $"src_b")
        .select($"src_a", $"src_b", $"h",
          lit(0L).as("ia"), lit(1L).as("ib")))
      .groupBy($"src_a", $"src_b", $"h")
      .agg(max($"ia").as("ia"), max($"ib").as("ib"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"src_a", $"src_b").orderBy($"h")
    val est = tagged.withColumn("rn", row_number().over(w))
      .filter($"rn" <= sjK)
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("k_union"), sum($"ia" * $"ib").as("n_both"))
      .withColumn("est_jaccard", expr(
        "floor(n_both / cast(k_union as double) * 1e6 + 0.5) / 1e6"))
    pairs.select($"src_a", $"src_b", $"exact_jaccard")
      .join(est, Seq("src_a", "src_b"))
      .select($"src_a", $"src_b", $"k_union", $"n_both", $"est_jaccard",
        $"exact_jaccard",
        expr("floor(abs(est_jaccard - exact_jaccard) * 1e6 + 0.5) / 1e6")
          .as("err"))
  }
  private val d54Sql =
    s"""WITH t AS (SELECT source,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |g AS (SELECT DISTINCT source, sh FROM (
       |    SELECT source, unnest(list_transform(
       |      generate_series(1, len(toks) - 4),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
       |           || ' ' || toks[i + 3] || ' ' || toks[i + 4])) AS sh
       |    FROM t WHERE len(toks) >= 5)),
       |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1),
       |iv AS (SELECT x.source AS src_a, y.source AS src_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM g x JOIN g y ON x.sh = y.sh AND x.source < y.source
       |  GROUP BY 1, 2),
       |p AS (SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a,
       |    b.n AS n_b, COALESCE(iv.n_inter, 0) AS n_inter
       |  FROM sz a JOIN sz b ON a.source < b.source
       |  LEFT JOIN iv ON iv.src_a = a.source AND iv.src_b = b.source),
       |pe AS (SELECT src_a, src_b,
       |    floor(n_inter / CAST(n_a + n_b - n_inter AS DOUBLE) * 1e6 + 0.5)
       |      / 1e6 AS exact_jaccard
       |  FROM p),
       |h AS (SELECT DISTINCT source,
       |    CAST('0x' || substr(md5(sh), 1, 10) AS BIGINT) AS h FROM g),
       |r AS (SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
       |sk AS (SELECT source, h FROM r WHERE rn <= $sjK),
       |tg AS (SELECT p.src_a, p.src_b, sk.h,
       |    MAX(CASE WHEN sk.source = p.src_a THEN 1 ELSE 0 END) AS ia,
       |    MAX(CASE WHEN sk.source = p.src_b THEN 1 ELSE 0 END) AS ib
       |  FROM p JOIN sk ON sk.source = p.src_a OR sk.source = p.src_b
       |  GROUP BY 1, 2, 3),
       |ru AS (SELECT src_a, src_b, h, ia, ib,
       |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
       |  FROM tg),
       |e AS (SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS k_union,
       |    CAST(SUM(ia * ib) AS BIGINT) AS n_both
       |  FROM ru WHERE rn <= $sjK GROUP BY 1, 2)
       |SELECT e.src_a, e.src_b, k_union, n_both,
       |  floor(n_both / CAST(k_union AS DOUBLE) * 1e6 + 0.5) / 1e6
       |    AS est_jaccard,
       |  pe.exact_jaccard,
       |  floor(abs(floor(n_both / CAST(k_union AS DOUBLE) * 1e6 + 0.5) / 1e6
       |    - pe.exact_jaccard) * 1e6 + 0.5) / 1e6 AS err
       |FROM e JOIN pe ON e.src_a = pe.src_a AND e.src_b = pe.src_b""".stripMargin

  // ---- d61: source Jaccard, production sketch-only form ----
  // d54 minus the exact-audit branch (VERDICT r12 item 3) — the query
  // a 100 TB run actually executes. The per-source sketch is the
  // native KMV aggregate (MinKDistinctAgg, sjK smallest DISTINCT
  // 40-bit gram hashes): dedup lives INSIDE the O(k) aggregation
  // buffer, so the corpus-wide (source, gram) distinct — a shuffle of
  // every gram row — disappears; map-side partials carry ≤ sjK longs
  // per source per task, and the one exchange in the whole sketch
  // build is the |sources|-row final agg. The pair domain is the
  // sources that own a sketch (bounded — |sources|² pairs) and the
  // estimator runs entirely over sketch rows: nothing corpus-sized is
  // joined, windowed, or shuffled, and the gram-key SELF-join that
  // produces d54's exact_jaccard column never appears in the plan
  // (PlanDisciplineSpec pins no-SortMergeJoin). d54 stays registered
  // as the spec-side proof of this estimator's error — the d57/s23
  // audit-vs-deployment split applied to Jaccard. The same aggregate
  // is the stream state of the live form (s27).

  /** Stateless (source, h) gram-hash projection shared by batch d61
    * and the streamed s27: per-doc distinct 5-grams → 40-bit md5 hash.
    * Cross-doc duplicates survive — the KMV buffer dedups them. */
  private[graft] def sjHashes(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), TextOps.tokensOnce(col("text")).as("toks"))
      .filter(size(col("toks")) >= 5)
      // r22: native Md5PrefixGramsExpr — positioned gram walk straight
      // off the token array (no gram-string array, no array_distinct,
      // no string explode, no per-gram cast). The per-doc distinct is
      // dropped DELIBERATELY: every consumer is the minKDistinct KMV
      // buffer, which depends only on the hash value SET, so the
      // multiset of positioned hashes yields the identical sketch
      // (d61/d62/s27 oracles gate it end-to-end).
      .select(col("source"), explode(
        graft.functions.GraftFunctions.md5PrefixGrams(col("toks"), 5, 10))
        .as("h"))

  /** (source, hs) per-source KMV sketches — the aggregate that is
    * BOTH d61's batch sketch build and s27's complete-mode stream
    * state (sources × sjK longs). */
  private[graft] def sjSketches(hashes: DataFrame): DataFrame =
    hashes.groupBy(col("source"))
      .agg(graft.functions.GraftFunctions
        .minKDistinct(col("h"), sjK).as("hs"))

  /** Bottom-k Jaccard estimator over exploded sketch rows (src, h) —
    * the tail shared by d61 and s27: pair domain from the sketch
    * owners, union bottom-k per pair (a window over ≤ 2k-row pair
    * partitions, not the corpus), est snapped to micro units. */
  private[graft] def sjEstimate(sk: DataFrame): DataFrame = {
    val srcs = sk.select(col("src").as("source")).distinct()
    val pairKeys = srcs.as("a").join(srcs.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
    val tagged = sk.join(broadcast(pairKeys), col("src") === col("src_a"))
      .select(col("src_a"), col("src_b"), col("h"),
        lit(1L).as("ia"), lit(0L).as("ib"))
      .union(sk.join(broadcast(pairKeys), col("src") === col("src_b"))
        .select(col("src_a"), col("src_b"), col("h"),
          lit(0L).as("ia"), lit(1L).as("ib")))
      .groupBy(col("src_a"), col("src_b"), col("h"))
      .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))
    tagged.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= sjK)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("k_union"),
        sum(col("ia") * col("ib")).as("n_both"))
      .withColumn("est_jaccard", expr(
        "floor(n_both / cast(k_union as double) * 1e6 + 0.5) / 1e6"))
  }

  private def d61(s: SparkSession, dir: String): DataFrame =
    sjEstimate(sjSketches(sjHashes(Tables(s, dir, "documents")))
      .select(col("source").as("src"), explode(col("hs")).as("h")))

  // ---- d62: source overlap matrix, sketch-only form ----
  // d48's whole audit (shared gram count + containment fractions per
  // pair) estimated purely from the d61 KMV sketches — the optional
  // second half of VERDICT r12 item 3. Standard KMV estimators, kept
  // in INTEGER math so both engines agree exactly: per-source
  // distinct-gram count n̂ = (k-1)·M div h_k (exact = sketch size
  // when the source holds fewer than k distinct grams; M = 2^40, the
  // hash domain), union size the same estimator over the union
  // bottom-k, shared count n̂_shared = n_both·n̂_union div k_union
  // (J ≈ n_both/k_union scaled onto the union estimate), and the
  // containment fractions are the d48 snap of exact integers. One
  // corpus pass builds the sketches; everything downstream is
  // sketch-sized (sources·k longs) or pair-sized — the gram-key
  // self-join that d48 pays never appears (the d61 plan discipline).
  private val sjM = 1L << 40
  private def d62(s: SparkSession, dir: String): DataFrame = {
    val sketches = sjSketches(sjHashes(Tables(s, dir, "documents")))
    val per = sketches.select(col("source"),
      expr(s"case when size(hs) < $sjK then cast(size(hs) as bigint) " +
        s"else ($sjK - 1) * $sjM div element_at(hs, $sjK) end").as("n_est"))
    val sk = sketches.select(col("source").as("src"),
      explode(col("hs")).as("h"))
    val srcs = sk.select(col("src").as("source")).distinct()
    val pairKeys = srcs.as("a").join(srcs.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"))
    val tagged = sk.join(broadcast(pairKeys), col("src") === col("sa"))
      .select(col("sa"), col("sb"), col("h"),
        lit(1L).as("ia"), lit(0L).as("ib"))
      .union(sk.join(broadcast(pairKeys), col("src") === col("sb"))
        .select(col("sa"), col("sb"), col("h"),
          lit(0L).as("ia"), lit(1L).as("ib")))
      .groupBy(col("sa"), col("sb"), col("h"))
      .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sa"), col("sb")).orderBy(col("h"))
    val uni = tagged.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= sjK)
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("k_union"),
        sum(col("ia") * col("ib")).as("n_both"),
        max(col("h")).as("hk"))
      .withColumn("n_union_est", expr(
        s"case when k_union < $sjK then k_union " +
          s"else ($sjK - 1) * $sjM div hk end"))
      .withColumn("n_shared_est",
        expr("n_both * n_union_est div k_union"))
    uni
      .join(per.select(col("source").as("sa"), col("n_est").as("na_est")),
        "sa")
      .join(per.select(col("source").as("sb"), col("n_est").as("nb_est")),
        "sb")
      .select(col("sa"), col("sb"), col("n_shared_est"),
        col("na_est"), col("nb_est"),
        expr("floor(n_shared_est / cast(na_est as double) * 1e6 + 0.5) " +
          "/ 1e6").as("frac_a"),
        expr("floor(n_shared_est / cast(nb_est as double) * 1e6 + 0.5) " +
          "/ 1e6").as("frac_b"))
  }
  private val d62Sql =
    s"""WITH t AS (SELECT source,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |g AS (SELECT DISTINCT source, sh FROM (
       |    SELECT source, unnest(list_transform(
       |      generate_series(1, len(toks) - 4),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
       |           || ' ' || toks[i + 3] || ' ' || toks[i + 4])) AS sh
       |    FROM t WHERE len(toks) >= 5)),
       |h AS (SELECT DISTINCT source,
       |    CAST('0x' || substr(md5(sh), 1, 10) AS BIGINT) AS h FROM g),
       |r AS (SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
       |sk AS (SELECT source, h FROM r WHERE rn <= $sjK),
       |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    MAX(h) AS hk FROM sk GROUP BY 1),
       |pe AS (SELECT source, CASE WHEN cnt < $sjK THEN cnt
       |    ELSE ($sjK - 1) * $sjM // hk END AS n_est FROM per),
       |sc AS (SELECT DISTINCT source FROM sk),
       |p AS (SELECT a.source AS sa, b.source AS sb
       |  FROM sc a JOIN sc b ON a.source < b.source),
       |tg AS (SELECT p.sa, p.sb, sk.h,
       |    MAX(CASE WHEN sk.source = p.sa THEN 1 ELSE 0 END) AS ia,
       |    MAX(CASE WHEN sk.source = p.sb THEN 1 ELSE 0 END) AS ib
       |  FROM p JOIN sk ON sk.source = p.sa OR sk.source = p.sb
       |  GROUP BY 1, 2, 3),
       |ru AS (SELECT sa, sb, h, ia, ib,
       |    row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
       |  FROM tg),
       |u AS (SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS k_union,
       |    CAST(SUM(ia * ib) AS BIGINT) AS n_both, MAX(h) AS hk
       |  FROM ru WHERE rn <= $sjK GROUP BY 1, 2),
       |ue AS (SELECT sa, sb, n_both, k_union,
       |    CASE WHEN k_union < $sjK THEN k_union
       |      ELSE ($sjK - 1) * $sjM // hk END AS n_union_est
       |  FROM u),
       |se AS (SELECT sa, sb,
       |    n_both * n_union_est // k_union AS n_shared_est
       |  FROM ue)
       |SELECT se.sa, se.sb, n_shared_est,
       |  ea.n_est AS na_est, eb.n_est AS nb_est,
       |  floor(n_shared_est / CAST(ea.n_est AS DOUBLE) * 1e6 + 0.5) / 1e6
       |    AS frac_a,
       |  floor(n_shared_est / CAST(eb.n_est AS DOUBLE) * 1e6 + 0.5) / 1e6
       |    AS frac_b
       |FROM se JOIN pe ea ON se.sa = ea.source
       |  JOIN pe eb ON se.sb = eb.source""".stripMargin
  private[operators] val d61Sql =
    s"""WITH t AS (SELECT source,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |g AS (SELECT DISTINCT source, sh FROM (
       |    SELECT source, unnest(list_transform(
       |      generate_series(1, len(toks) - 4),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
       |           || ' ' || toks[i + 3] || ' ' || toks[i + 4])) AS sh
       |    FROM t WHERE len(toks) >= 5)),
       |h AS (SELECT DISTINCT source,
       |    CAST('0x' || substr(md5(sh), 1, 10) AS BIGINT) AS h FROM g),
       |r AS (SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
       |sk AS (SELECT source, h FROM r WHERE rn <= $sjK),
       |sc AS (SELECT DISTINCT source FROM sk),
       |p AS (SELECT a.source AS src_a, b.source AS src_b
       |  FROM sc a JOIN sc b ON a.source < b.source),
       |tg AS (SELECT p.src_a, p.src_b, sk.h,
       |    MAX(CASE WHEN sk.source = p.src_a THEN 1 ELSE 0 END) AS ia,
       |    MAX(CASE WHEN sk.source = p.src_b THEN 1 ELSE 0 END) AS ib
       |  FROM p JOIN sk ON sk.source = p.src_a OR sk.source = p.src_b
       |  GROUP BY 1, 2, 3),
       |ru AS (SELECT src_a, src_b, h, ia, ib,
       |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
       |  FROM tg)
       |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS k_union,
       |  CAST(SUM(ia * ib) AS BIGINT) AS n_both,
       |  floor(SUM(ia * ib) / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
       |    AS est_jaccard
       |FROM ru WHERE rn <= $sjK GROUP BY 1, 2""".stripMargin

  // ---- d55: corpus heavy hitters (frequent-items audit) ----
  // The threshold-form vocabulary audit next to d20's top-M: every
  // term whose occurrence share clears φ = 1/hhPhiInv of total token
  // mass, with its exact ppm share — the stopword/template-token
  // table a curation run consults before weighting sources. Scale
  // shape: one tokenize pass → term-key hash agg (partial-aggregated
  // map-side; keys bounded by the VOCABULARY domain, not the corpus)
  // → broadcast scalar threshold; the only exchange carries (term,
  // count) rows. All integer math (c · hhPhiInv > N, ppm by integer
  // floor-div), so cross-engine exact. The SKETCH form of this
  // operator — the Misra-Gries mergeable summary whose N/(m+1) error
  // floor makes it the 100 TB/streaming deployment (m counters per
  // shard, error-preserving merges) — lives in
  // `text/FrequentItems.scala`, guarantee-spec'd against this exact
  // query in FrequentItemsSpec (its estimates are partition-layout-
  // dependent within the error band, so the exact query is the
  // oracle anchor and the sketch is gated by its theorems).
  private val hhPhiInv = 30L

  /** Vocabulary-keyed term counts — the streamable half of d55: a
    * hash agg whose key domain is the VOCABULARY (Heaps-sublinear in
    * the corpus), so it runs complete-mode over a document readStream
    * with bounded state (s28 — the s21/s22 counter family). */
  private[graft] def termCountsAgg(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(explode(TextOps.tokensOnce(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))

  /** φ-threshold tail over exact counts — re-derived per emission in
    * the streamed form; all integer math, so cross-engine exact. */
  private[graft] def hhThreshold(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("cnt")).as("n"))
    counts.crossJoin(broadcast(tot))
      .filter(col("cnt") * hhPhiInv > col("n"))
      .select(col("term"), col("cnt"),
        expr("cnt * 1000000 div n").as("freq_ppm"))
  }

  private def d55(s: SparkSession, dir: String): DataFrame =
    hhThreshold(termCountsAgg(Tables(s, dir, "documents")))
  private[operators] val d55Sql =
    s"""WITH t AS (SELECT
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1),
       |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
       |SELECT term, cnt, cnt * 1000000 // n AS freq_ppm
       |FROM c CROSS JOIN n
       |WHERE cnt * $hhPhiInv > n""".stripMargin

  // ---- d56: context-length packing-efficiency curve ----
  // The audit behind choosing a training context length: for each
  // candidate window W, how many W-token chunks does the corpus cut
  // into (the d36 chunker at stride = W) and what fraction of the
  // packed slots is padding waste — the cost curve that trades context
  // against throughput. One scan computes every dial side by side (the
  // m06 pattern): per-doc token counts explode across the bounded
  // 3-element W list, fold into a |dials|-row agg. All integer math
  // (ceil-div chunks, ppm waste by floor-div of exact sums) — exact
  // cross-engine at any corpus size, and the only exchange carries
  // 3 · n_docs tiny rows into a 3-row aggregate.
  private val packWs = Seq(128L, 256L, 512L)

  /** The d56 curve as a shared transform: pure projections into a
    * |dials|-row agg, so it runs over a batch scan or a document
    * readStream unchanged (s21 — the bounded-state complete-mode agg
    * deployment, state = 3 rows of integer sums). */
  private[graft] def packingEfficiency(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(size(TextOps.tokensOnce(col("text"))).cast("long").as("nt"))
      .select(col("nt"), explode(typedLit(packWs)).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"),
        sum(expr("(nt + w - 1) div w")).as("total_chunks"))

  /** Ratio tail split out of the agg: a streaming complete-mode sink
    * re-derives it per emission from the exact integer sums. */
  private[graft] def packingRatios(agg: DataFrame): DataFrame =
    agg.select(col("w"), col("n_docs"), col("total_tokens"),
      col("total_chunks"),
      expr("(total_chunks * w - total_tokens) * 1000000 " +
        "div (total_chunks * w)").as("waste_ppm"))

  private def d56(s: SparkSession, dir: String): DataFrame =
    packingRatios(packingEfficiency(Tables(s, dir, "documents")))
  private[operators] val d56Sql =
    s"""WITH t AS (SELECT CAST(len(string_split(lower(trim(
       |      regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT) AS nt
       |  FROM documents WHERE length(trim(text)) > 0),
       |x AS (SELECT nt, w FROM t
       |  CROSS JOIN (VALUES (${packWs.mkString("), (")})) ws(w)),
       |a AS (SELECT CAST(w AS BIGINT) AS w,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(nt) AS BIGINT) AS total_tokens,
       |    CAST(SUM((nt + w - 1) // w) AS BIGINT) AS total_chunks
       |  FROM x GROUP BY 1)
       |SELECT w, n_docs, total_tokens, total_chunks,
       |  (total_chunks * w - total_tokens) * 1000000 // (total_chunks * w)
       |    AS waste_ppm
       |FROM a""".stripMargin

  // ---- d57: Bloom-filter contamination screen (+ FPR self-audit) ----
  // d23 ships the eval 5-gram SET to the corpus join; at benchmark-
  // suite scale that set is GBs, while a Bloom filter over it is KBs —
  // the screen every production decontamination pass actually deploys.
  // k = 3 bit positions per gram from md5 slices (the cross-engine
  // coin), bloomBits = 2^16; a corpus gram is a BLOOM hit iff all
  // three of its positions are set by some eval gram. Determinism:
  // false positives are a FUNCTION of the hash construction, not
  // noise — both engines compute the identical bit set and identical
  // per-gram verdicts, so the screen is oracle-exact INCLUDING its
  // false positives, and the exact d23 membership rides along to
  // self-report the FP mass per doc (the d46/d54 audit pattern).
  // Scale shape: the position set is bounded by the eval suite
  // (3 · |eval grams| ints, broadcast); the corpus side is one explode
  // + position join + per-doc agg — never a corpus-keyed set
  // membership against the raw gram table. The STATELESS deployment
  // (s23) collapses the position set to a 1024-long dense bitmap
  // literal and checks bits in O(1) per gram with zero shuffle — the
  // d38/s14 split applied to membership screens; proven ≡ the join
  // form in BloomScreenSpec.
  private val bloomBitsLog2 = 16
  private val bloomK = 3

  /** (doc_id, sh) distinct 5-grams, the shared d23/d57 front end. */
  private def fiveGrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 5)
      .select($"doc_id", explode(TextOps.shingles("toks", 5)).as("sh"))
  }

  /** The k md5-derived bit positions of a gram column (by name), as an
    * array column — stateless, streamable. */
  private def bloomPositions(shCol: String): org.apache.spark.sql.Column =
    array((0 until bloomK).map(i =>
      expr(s"graft_md5_prefix(cast(concat('$i', ' ', $shCol) " +
        s"as binary), 4)")): _*)

  private def d57(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = fiveGrams(s, dir)
    val evalG = sh.filter($"doc_id" < 20).select($"sh").distinct()
    val evalPos = evalG
      .select(explode(bloomPositions("sh")).as("pos")).distinct()
      .withColumn("setbit", lit(1L))
    // r19 shuffle diet: the per-gram-site agg and the exact-hit join
    // key on gh = xxhash64(sh) — the corpus side's only shuffle
    // carries (doc_id, 8-byte long), never gram strings. Both bloom
    // positions and gh are computed in the same explode projection
    // (the md5 positions stay string-derived: they are the
    // oracle-shared coin); the eval-hit side hashes its own bounded
    // strings identically, so join semantics are unchanged under the
    // collision-free premise the string oracle checks.
    val evalHit = evalG.select(xxhash64($"sh").as("gh"))
      .withColumn("ehit", lit(1L))
    val corp = sh.filter($"doc_id" >= 20)
      .select($"doc_id", xxhash64($"sh").as("gh"),
        explode(bloomPositions("sh")).as("pos"))
      .join(broadcast(evalPos), Seq("pos"), "left")
      .groupBy($"doc_id", $"gh")
      .agg(min(coalesce($"setbit", lit(0L))).as("allset"))
      .join(broadcast(evalHit), Seq("gh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("total_5grams"),
        sum($"allset").as("n_bloom_hits"),
        sum(coalesce($"ehit", lit(0L))).as("n_exact_hits"))
    corp.select($"doc_id", $"total_5grams", $"n_bloom_hits",
      $"n_exact_hits",
      expr("(n_bloom_hits - n_exact_hits) * 1000000 div total_5grams")
        .as("fp_ppm"))
  }
  private val d57Sql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |  s AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |      generate_series(1, len(toks) - 4),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
       |           || ' ' || toks[i + 3] || ' ' || toks[i + 4]))) AS sh
       |    FROM t WHERE len(toks) >= 5),
       |  ev AS (SELECT DISTINCT sh FROM s WHERE doc_id < 20),
       |  ep AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(k.range AS VARCHAR)
       |      || ' ' || sh), 1, 4) AS BIGINT) AS pos
       |    FROM ev CROSS JOIN range($bloomK) k),
       |  corp AS (SELECT doc_id, sh FROM s WHERE doc_id >= 20),
       |  cp AS (SELECT doc_id, sh, CAST('0x' || substr(md5(CAST(k.range AS VARCHAR)
       |      || ' ' || sh), 1, 4) AS BIGINT) AS pos
       |    FROM corp CROSS JOIN range($bloomK) k),
       |  g AS (SELECT doc_id, sh,
       |      MIN(CASE WHEN ep.pos IS NOT NULL THEN 1 ELSE 0 END) AS allset
       |    FROM cp LEFT JOIN ep ON cp.pos = ep.pos GROUP BY 1, 2),
       |  d AS (SELECT g.doc_id,
       |      CAST(COUNT(*) AS BIGINT) AS total_5grams,
       |      CAST(SUM(allset) AS BIGINT) AS n_bloom_hits,
       |      CAST(SUM(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |        AS n_exact_hits
       |    FROM g LEFT JOIN ev ON g.sh = ev.sh GROUP BY 1)
       |SELECT doc_id, total_5grams, n_bloom_hits, n_exact_hits,
       |  (n_bloom_hits - n_exact_hits) * 1000000 // total_5grams AS fp_ppm
       |FROM d""".stripMargin

  /** The eval position set as a DENSE 2^16-bit bitmap (1024 longs) —
    * the bounded driver gather the STATELESS screen ships to a stream
    * (the d39/s14 index-build pattern applied to membership). */
  private val bloomCache = new SessionCache[String, Array[Long]](_ => ())
  private[operators] def bloomBitmap(s: SparkSession, dir: String)
      : Array[Long] = bloomCache.getOrBuild(s, dir) {
    val bits = new Array[Long](1 << (bloomBitsLog2 - 6))
    fiveGrams(s, dir).filter(col("doc_id") < 20)
      .select(explode(bloomPositions("sh")).as("pos")).distinct()
      .collect() // bounded: <= 3 * |eval grams| <= 2^16 ints
      .foreach { r =>
        val p = r.getLong(0).toInt
        bits(p >> 6) |= 1L << (p & 63)
      }
    bits
  }

  /** Stateless Bloom screen against a FIXED bitmap literal: per-gram
    * membership is three O(1) bit probes inside one HOF fold — no
    * explode, no join, no shuffle — so it lifts onto a document
    * readStream unchanged (s23). Value-identical to d57's join form
    * minus the exact-audit columns (BloomScreenSpec pins it). */
  private[operators] def bloomScreenStateless(docs: DataFrame,
      bits: Array[Long]): DataFrame = {
    require(bits.length == 1 << (bloomBitsLog2 - 6),
      "bitmap must span the full bloom space")
    // r22: native BloomHitsExpr — one codegen'd pass per row (digest
    // positions identical to the join form's '<i> ' prefix coin, the
    // md5-minhash slot prefixes) replaces the interpreted nested fold
    // that paid a lambda + concat/cast + element_at per (gram, slot);
    // value-identical (HashExprsSpec pins it against the HOF form)
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokensOnce(col("text")).as("toks"))
      .filter(size(col("toks")) >= 5)
      .withColumn("grams", TextOps.shingles("toks", 5))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("total_5grams"),
        graft.functions.GraftFunctions.bloomHits(col("grams"), bits,
          bloomK, 4).as("n_bloom_hits"))
  }

  /** s23's oracle: d57's pipeline with only the stream-computable
    * columns (the exact-audit legs need the eval gram SET, which the
    * stateless deployment deliberately does not ship). */
  private[operators] val bloomStreamSql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |  s AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |      generate_series(1, len(toks) - 4),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
       |           || ' ' || toks[i + 3] || ' ' || toks[i + 4]))) AS sh
       |    FROM t WHERE len(toks) >= 5),
       |  ev AS (SELECT DISTINCT sh FROM s WHERE doc_id < 20),
       |  ep AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(k.range AS VARCHAR)
       |      || ' ' || sh), 1, 4) AS BIGINT) AS pos
       |    FROM ev CROSS JOIN range($bloomK) k),
       |  cp AS (SELECT doc_id, sh, CAST('0x' || substr(md5(CAST(k.range AS VARCHAR)
       |      || ' ' || sh), 1, 4) AS BIGINT) AS pos
       |    FROM (SELECT doc_id, sh FROM s WHERE doc_id >= 20)
       |    CROSS JOIN range($bloomK) k),
       |  g AS (SELECT doc_id, sh,
       |      MIN(CASE WHEN ep.pos IS NOT NULL THEN 1 ELSE 0 END) AS allset
       |    FROM cp LEFT JOIN ep ON cp.pos = ep.pos GROUP BY 1, 2)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS total_5grams,
       |  CAST(SUM(allset) AS BIGINT) AS n_bloom_hits
       |FROM g GROUP BY 1""".stripMargin

  // ---- d58: PRODUCTION fuzzy decontamination (native hash, full corpus) ----
  // The deployment form of d53: same asymmetric screen — the bounded
  // benchmark suite's banded codes broadcast against the corpus, never
  // a corpus self-join — but on the native fused tokens→minhash
  // Catalyst projection (d06's engine, xxhash64, codegen'd, no
  // interpreted md5 HOFs), so it runs over the FULL corpus instead of
  // d53's oracle slice. d53 remains the cross-engine proof of the
  // banding/verify logic; this is the query a user actually deploys,
  // gated by a pinned golden exactly as d06 is gated against d10.
  private[operators] val fuzzyK = 32

  /** Native fused tokens→minhash signatures — stateless projections
    * only, so the same frame builds over a batch scan or a document
    * readStream (s24). */
  private[operators] def nativeSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokensOnce(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .withColumn("sig", TextOps.minhashOfShingles("toks", 3, fuzzyK))
      .select(col("doc_id"), col("sig"))

  /** The bounded eval suite's banded codes — the broadcast side of the
    * asymmetric screen, shared by d58 and its streamed form. */
  private[operators] def evalBandCodes(sigs: DataFrame): DataFrame =
    TextOps.lshBandCodes(sigs.filter(col("doc_id") < fuzzyEvalN),
        "doc_id", fuzzyK, bands = 8)
      .withColumnsRenamed(Map("doc" -> "edoc", "band" -> "eband",
        "bucket" -> "ebucket"))

  /** Verify tail shared by d58 and s24: candidate pair rollup →
    * slot-agreement estimate → 0.2 floor → screen column names. */
  private[operators] def fuzzyVerify(cands: DataFrame,
      sigs: DataFrame): DataFrame =
    TextOps.estimateJaccard(cands, sigs, "doc_id", fuzzyK)
      .filter(col("est_jaccard") >= 0.2)
      .withColumnsRenamed(Map("id_a" -> "doc_id", "id_b" -> "eval_id"))

  private def d58(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = nativeSigs(Tables(s, dir, "documents"))
    val corpB = TextOps.lshBandCodes(
      sigs.filter($"doc_id" >= fuzzyEvalN), "doc_id", fuzzyK, bands = 8)
    val cands = corpB.join(broadcast(evalBandCodes(sigs)),
        $"band" === $"eband" && $"bucket" === $"ebucket")
      .groupBy($"doc".as("id_a"), $"edoc".as("id_b"))
      .agg(count(lit(1)).as("n_bands"))
    fuzzyVerify(cands, sigs)
  }

  // ---- d59: weighted sampling without replacement (Efraimidis-Spirakis) ----
  // The quality/size-weighted reservoir a mixture builder runs when a
  // token budget must FAVOR some documents without replacement: each
  // doc draws priority u^(1/w) (u a deterministic md5 dyadic coin, w
  // its token count), and the per-source top-k by priority IS a
  // weighted sample without replacement — inclusion odds scale with w,
  // and re-runs/backfills reproduce the exact same sample (never
  // rand(), the d19/d26 coin discipline). Scale shape: one stateless
  // projection, then the bounded-heap top-k engine (v01's) per source
  // — O(k) state per shard, no window, no sort of the corpus.
  // Exactness: ranking by u^(1/w) ≡ ranking by ln(u)/w; ln is snapped
  // to micro units before compare (the d20/d44 ln discipline), the
  // tie-break is doc_id, so both engines pick identical samples.
  private[graft] val wsK = 10

  /** The E-S priority scorer — a stateless projection, so it runs over
    * a batch scan or a document readStream unchanged (s26). Output
    * (qid, vec_id, score) feeds the bounded top-k engine directly. */
  private[graft] def esScored(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), col("doc_id"),
        size(TextOps.tokensOnce(col("text"))).cast("long").as("w"))
      .withColumn("u",
        (graft.functions.GraftFunctions.md5Prefix(
          concat(col("doc_id").cast("string"), lit(":ws")).cast("binary"), 6)
          .cast("double") + 0.5) / 16777216.0)
      .select(col("source").as("qid"), col("doc_id").as("vec_id"),
        expr("cast(floor(ln(u) / w * 1e6 + 0.5) as bigint)")
          .cast("double").as("score"))

  /** topKPerQuery's output re-skinned in sample-manifest column names —
    * shared by d59 and the streamed s26 rollup. */
  private[graft] def esManifest(top: DataFrame): DataFrame =
    top.select(col("qid").as("source"), col("rank"),
      col("vec_id").as("doc_id"), col("score").cast("bigint")
        .as("prio_micro"))

  private def d59(s: SparkSession, dir: String): DataFrame =
    esManifest(graft.vec.VectorOps.topKPerQuery(
      esScored(Tables(s, dir, "documents")), wsK))
  private[operators] val d59Sql =
    s"""WITH t AS (SELECT source, doc_id,
       |    CAST(len(string_split(lower(trim(
       |      regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT) AS w
       |  FROM documents WHERE length(trim(text)) > 0),
       |p AS (SELECT source, doc_id,
       |    CAST(floor(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
       |        || ':ws'), 1, 6) AS INT) + 0.5e0) / 16777216.0e0)
       |      / w * 1e6 + 0.5) AS BIGINT) AS prio
       |  FROM t),
       |r AS (SELECT source, doc_id, prio,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY prio DESC, doc_id) AS rn
       |  FROM p)
       |SELECT source, CAST(rn AS BIGINT) AS rank, doc_id,
       |  prio AS prio_micro
       |FROM r WHERE rn <= $wsK""".stripMargin

  // ---- d60: curation manifest v2 (screens → weighted sample) ----
  // The end-to-end proof that this round's screens COMPOSE (the
  // d09/d30 discipline applied to the new tiers): corpus docs pass
  // the production fuzzy-decontamination screen (d58 — any flagged
  // (doc, eval) pair drops the doc) and the Bloom contamination screen
  // (d57 — drop when more than half the doc's grams bloom-hit the eval
  // suite; unscoreable short docs are KEPT, the d33 rule), and the
  // survivors are weighted-sampled per source with d59's E-S priority
  // (top-5). Every stage is an already-oracle-gated engine; the
  // composition is anti-join + join + the bounded-heap top-k, so the
  // whole manifest stays one corpus pass per screen with bounded
  // everything downstream. Oracle: the composed SQL, with d58's
  // pinned-golden VALUES inlined as a CTE — golden and SQL oracles
  // compose too.
  //
  // The two screens DELIBERATELY carry different eval universes
  // (ADVICE r12): the fuzzy ladder's suite is doc_id < fuzzyEvalN
  // (=100, d53/d58's boundary), the Bloom ladder's is doc_id < 20
  // (d23/d57's). That models the production reality the manifest
  // composes for — each contamination screen ships with the benchmark
  // suite it was registered against, and a curation run applies them
  // AS DEPLOYED rather than re-normalizing them onto one universe.
  // Docs 20–99 are therefore "eval" to the sampler (excluded, fuzzy
  // tier) while still "corpus" to the Bloom screen — consistent with
  // both screens' own oracles, and pinned that way by d60's composed
  // oracle.
  //
  // The screen-verdict frames are memoized per (session, dir) in a
  // SessionCache (VERDICT r12 improvement 2): a session that builds
  // several manifests — or a bench sweep that re-runs this one — pays
  // each gram pipeline once; only the anti-joins + top-k re-execute.
  private val curK = 5
  private val screenCache =
    new SessionCache[String, (DataFrame, DataFrame)]({ case (fz, bd) =>
      fz.unpersist(); bd.unpersist() })

  /** (fuzzy-flagged doc ids, bloom-majority-drop doc ids), persisted —
    * the bounded verdict sets d60 anti-joins against. */
  private def screenVerdicts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    screenCache.getOrBuild(s, dir) {
      val fz = d58(s, dir).select(col("doc_id")).distinct().persist()
      val bd = d57(s, dir)
        .filter(col("n_bloom_hits") * 2 > col("total_5grams"))
        .select(col("doc_id")).persist()
      fz.count(); bd.count() // materialize under the builder's monitor
      (fz, bd)
    }

  // ---- the materialized per-doc screen report ----
  // A curation run does not re-derive its screen verdicts for every
  // artifact it publishes: it materializes ONE per-doc report — which
  // screens flagged each doc, its raw and clean token mass — and the
  // manifests (d60/d69/d79), the contamination report (d70) and the
  // datasheet (d74) are all cheap reads of that table. Re-deriving
  // per artifact re-audited the gram/vector pipelines every time: at
  // r15 the datasheet's plan carried 18 scan nodes — 10+ redundant
  // corpus passes at 100 TB for the most dashboard-like queries. The
  // report is written once per (session, dataset) under the warehouse
  // (the d35/v06 layout-amortization rule, with DiskLayoutCache's
  // per-key locking + stale-session GC) and every composer audits as
  // ONE FileScan of the report plus its own bounded tail. Columns:
  // doc_id, source, n_toks (raw token count), flag_fuzzy/flag_bloom/
  // flag_semantic (0/1 — d58, d57-majority, v31 as deployed, each
  // with its own eval universe, the d60 doctrine), and d72's scrub
  // ledger (dup_tokens/clean_tokens; null below the gram resolution,
  // coalesced at use sites exactly as the unfused forms did).
  private val screenReportDisk = new DiskLayoutCache("graft_screens")

  private[operators] def screenReport(s: SparkSession, dir: String)
      : DataFrame = {
    val path = screenReportDisk.getOrBuild(s, dir) { p =>
      val (fuzzyFlagged, bloomDrop) = screenVerdicts(s, dir)
      def tagged(df: DataFrame, c: String) =
        df.select(col("doc_id"), lit(1L).as(c))
      Tables(s, dir, "documents")
        .filter(col("doc_id") >= fuzzyEvalN)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokensOnce(col("text"))).cast("long").as("n_toks"))
        .join(tagged(fuzzyFlagged, "ff"), Seq("doc_id"), "left")
        .join(tagged(bloomDrop, "fb"), Seq("doc_id"), "left")
        .join(tagged(VectorQueries.semanticFlaggedIds(s, dir), "fs"),
          Seq("doc_id"), "left")
        .join(d72(s, dir).select(col("doc_id"), col("dup_tokens"),
          col("clean_tokens")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_toks"),
          coalesce(col("ff"), lit(0L)).as("flag_fuzzy"),
          coalesce(col("fb"), lit(0L)).as("flag_bloom"),
          coalesce(col("fs"), lit(0L)).as("flag_semantic"),
          col("dup_tokens"), col("clean_tokens"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  /** The E-S sampling tail over explicit (source, doc_id, w) rows —
    * d60/d69 weight by raw token count, d79 by the dedup-aware clean
    * count. */
  private def manifestSampleWeighted(survivors0: DataFrame): DataFrame = {
    val survivors = survivors0
      .withColumn("u",
        (graft.functions.GraftFunctions.md5Prefix(
          concat(col("doc_id").cast("string"), lit(":ws")).cast("binary"), 6)
          .cast("double") + 0.5) / 16777216.0)
      .withColumn("prio",
        expr("cast(floor(ln(u) / w * 1e6 + 0.5) as bigint)"))
    graft.vec.VectorOps.topKPerQuery(
        survivors.select(col("source").as("qid"), col("doc_id").as("vec_id"),
          col("prio").cast("double").as("score")), curK)
      .select(col("qid").as("source"), col("rank"),
        col("vec_id").as("doc_id"),
        col("score").cast("bigint").as("prio_micro"))
  }

  private def d60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one report read; the anti-joins became flag predicates PUSHED
    // INTO the report scan (d60 composes fuzzy + bloom only)
    manifestSampleWeighted(screenReport(s, dir)
      .filter($"flag_fuzzy" === 0L && $"flag_bloom" === 0L)
      .select($"source", $"doc_id", $"n_toks".as("w")))
  }
  /** The composed-manifest oracle, parameterized by extra verdict CTEs
    * and extra survivor predicates (d60 passes none; d69 adds the
    * semantic screen). */
  /** The screen-verdict CTEs every composed audit shares: fz (the
    * inlined d58 golden), the t0→bd Bloom-majority pipeline, and
    * optionally extra verdict CTEs (d69's sem). Tails differ: the
    * manifests sample, the report (d70) explains. */
  private def screenCtesSql(extraCtes: String) =
    // d58's golden VALUES re-skinned as a flagged-doc CTE: strip the
    // golden's SELECT header down to the doc ids
    s"""$extraCtes fz AS (SELECT DISTINCT doc_id FROM (${GoldenOracles.d58})),
       |t0 AS (SELECT doc_id, source,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |  s AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |      generate_series(1, len(toks) - 4),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
       |           || ' ' || toks[i + 3] || ' ' || toks[i + 4]))) AS sh
       |    FROM t0 WHERE len(toks) >= 5),
       |  ev AS (SELECT DISTINCT sh FROM s WHERE doc_id < 20),
       |  ep AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(k.range AS VARCHAR)
       |      || ' ' || sh), 1, 4) AS BIGINT) AS pos
       |    FROM ev CROSS JOIN range($bloomK) k),
       |  cp AS (SELECT doc_id, sh, CAST('0x' || substr(md5(CAST(k.range AS VARCHAR)
       |      || ' ' || sh), 1, 4) AS BIGINT) AS pos
       |    FROM (SELECT doc_id, sh FROM s WHERE doc_id >= 20)
       |    CROSS JOIN range($bloomK) k),
       |  g AS (SELECT doc_id, sh,
       |      MIN(CASE WHEN ep.pos IS NOT NULL THEN 1 ELSE 0 END) AS allset
       |    FROM cp LEFT JOIN ep ON cp.pos = ep.pos GROUP BY 1, 2),
       |  bd AS (SELECT doc_id FROM (SELECT doc_id, COUNT(*) AS tot,
       |      SUM(allset) AS hits FROM g GROUP BY 1)
       |    WHERE hits * 2 > tot)""".stripMargin

  private def manifestSql(extraCtes: String, extraFilter: String) = {
    // NOTE: screenCtesSql is already margin-stripped — concatenate,
    // never re-interpolate it under another stripMargin (its SQL `||`
    // operators at line starts would be re-stripped as margins)
    s"WITH ${screenCtesSql(extraCtes)},\n" +
    s"""  sv AS (SELECT source, doc_id,
       |      CAST(len(toks) AS BIGINT) AS w
       |    FROM t0 WHERE doc_id >= $fuzzyEvalN
       |      AND doc_id NOT IN (SELECT doc_id FROM fz)
       |      AND doc_id NOT IN (SELECT doc_id FROM bd)$extraFilter),
       |  p AS (SELECT source, doc_id,
       |      CAST(floor(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
       |          || ':ws'), 1, 6) AS INT) + 0.5e0) / 16777216.0e0)
       |        / w * 1e6 + 0.5) AS BIGINT) AS prio
       |    FROM sv),
       |  r AS (SELECT source, doc_id, prio,
       |      row_number() OVER (PARTITION BY source
       |        ORDER BY prio DESC, doc_id) AS rn
       |    FROM p)
       |SELECT source, CAST(rn AS BIGINT) AS rank, doc_id,
       |  prio AS prio_micro
       |FROM r WHERE rn <= $curK""".stripMargin
  }
  private lazy val d60Sql = manifestSql("", "")

  // ---- d69: curation manifest v3 (the semantic rung composed in) ----
  // d60 plus the paraphrase screen: survivors must ALSO clear v31's
  // embedding-cosine decontamination (vec_id indexes doc_id, the
  // fixture's row alignment), so the manifest now composes all three
  // contamination modalities — token-fuzzy (d58), Bloom-membership
  // (d57), and semantic (v31) — each applied AS DEPLOYED with its own
  // eval universe (the d60 doctrine; v31's is vec_id < 50). The
  // semantic verdict set is the output of a stateless zero-shuffle
  // projection, so the composition cost is one more bounded
  // anti-join; every stage remains an independently oracle-gated
  // engine and the composed oracle inlines v31's SQL as a CTE.
  private def d69(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // all three contamination modalities are now columns of the
    // materialized report — the composition is a pushed-down filter
    manifestSampleWeighted(screenReport(s, dir)
      .filter($"flag_fuzzy" === 0L && $"flag_bloom" === 0L &&
        $"flag_semantic" === 0L)
      .select($"source", $"doc_id", $"n_toks".as("w")))
  }
  /** v31's verdict set as an oracle CTE (shared by d69/d70). */
  private lazy val semCteSql = {
    val cos = graft.vec.VectorOps.cosineSql("c.embedding", "ev.e")
    s"""sem AS (SELECT DISTINCT c.vec_id AS doc_id
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE vec_id >= ${VectorDials.sdEvalN}) c
       |  CROSS JOIN (SELECT embedding AS e FROM embeddings
       |        WHERE vec_id < ${VectorDials.sdEvalN}) ev
       |  WHERE $cos >= ${VectorDials.sdTau}e0),
       |""".stripMargin
  }
  private lazy val d69Sql = manifestSql(semCteSql,
    "\n      AND doc_id NOT IN (SELECT doc_id FROM sem)")

  // ---- d70: contamination report (per-doc verdict provenance) ----
  // The explainability table a curation run ships next to its
  // manifest: for every corpus doc, WHICH screens flagged it — the
  // token-fuzzy verdict (d58), the Bloom-majority verdict (d57), the
  // semantic verdict (v31) — plus the roll-up a reviewer reads
  // (n_flags, keep). The manifests (d60/d69) answer "what survived";
  // this answers "why did everything else drop", which is what audit
  // trails and screen-drift dashboards consume. Scale shape: three
  // left joins of the corpus id spine against BOUNDED verdict sets
  // (each the output of an already-gated screen; the verdict frames
  // are the same SessionCache'd d60 sides plus v31's stateless
  // projection) — no gram or vector work happens here at all.
  private def d70(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // a pure projection of the materialized report — the verdict
    // joins happened once, at report-build time
    screenReport(s, dir)
      .select($"doc_id", $"source",
        $"flag_fuzzy", $"flag_bloom", $"flag_semantic")
      .withColumn("n_flags",
        $"flag_fuzzy" + $"flag_bloom" + $"flag_semantic")
      .withColumn("keep", when($"n_flags" === 0L, 1L).otherwise(0L))
  }
  private lazy val d70Sql =
    s"WITH ${screenCtesSql(semCteSql)}\n" +
    s"""SELECT doc_id, source, flag_fuzzy, flag_bloom, flag_semantic,
       |  flag_fuzzy + flag_bloom + flag_semantic AS n_flags,
       |  CAST(CASE WHEN flag_fuzzy + flag_bloom + flag_semantic = 0
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM (SELECT doc_id, source,
       |  CAST(CASE WHEN doc_id IN (SELECT doc_id FROM fz) THEN 1 ELSE 0 END
       |    AS BIGINT) AS flag_fuzzy,
       |  CAST(CASE WHEN doc_id IN (SELECT doc_id FROM bd) THEN 1 ELSE 0 END
       |    AS BIGINT) AS flag_bloom,
       |  CAST(CASE WHEN doc_id IN (SELECT doc_id FROM sem) THEN 1 ELSE 0 END
       |    AS BIGINT) AS flag_semantic
       |  FROM t0 WHERE doc_id >= $fuzzyEvalN)""".stripMargin

  // ---- d63: incremental near-dup index maintenance ----
  // The d34/v28 merge-don't-recompute contract applied to MinHash LSH:
  // the corpus grows by a delta generation (fixture stand-in: doc_id
  // mod 4 ∈ {2,3} of the md5 oracle slice), and the band index is
  // MAINTAINED — the base generation's signatures are the persisted
  // index (signatures, not just band codes: production keeps them for
  // the verify step), only DELTA documents are shingled and hashed,
  // and new candidate pairs come from the delta probing itself plus
  // the stored index. Nothing re-hashes the base: maintenance cost is
  // delta-proportional, which at 100 TB is the difference between a
  // nightly re-band of the corpus and a minutes-long append job.
  // Output is the production deliverable — every near-dup pair the
  // delta INTRODUCES, tagged delta_delta / delta_vs_base — and the
  // maintained-index invariant (base pairs ∪ these = full recompute)
  // is proven in IncrementalNeardupSpec. Cross-engine: the md5
  // engine's hashes, so the whole incremental path is SQL-oracled.
  private[operators] val ndMod = 4L
  private[operators] val ndBaseSlots = 2L // doc_id % 4 < 2 → base

  private val neardupIdxCache = new SessionCache[String, DataFrame](
    _.unpersist())

  /** The persisted base-generation signature store — the index a
    * production near-dup service keeps warm between ingests. */
  private[operators] def neardupSigIndex(s: SparkSession, dir: String)
      : DataFrame =
    neardupIdxCache.getOrBuild(s, dir) {
      mhSigs(Tables(s, dir, "documents")
        .filter(col("doc_id") < oracleSliceN &&
          col("doc_id") % ndMod < ndBaseSlots))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Delta-side candidate generation: delta×delta (strict id order)
    * plus delta×index (either order, normalized) — one row per
    * matching band, the mhPairsRollup input contract. */
  private[operators] def deltaBandProbe(deltaBanded: DataFrame,
      baseIdx: DataFrame): DataFrame = {
    val dd = deltaBanded.as("x").join(deltaBanded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("id_a"), col("y.doc").as("id_b"))
    val db = deltaBanded.as("x").join(baseIdx.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket"))
      .select(least(col("x.doc"), col("y.doc")).as("id_a"),
        greatest(col("x.doc"), col("y.doc")).as("id_b"))
    dd.union(db)
  }

  private def d63(s: SparkSession, dir: String): DataFrame = {
    val baseSigs = neardupSigIndex(s, dir)
    val deltaSigs = mhSigs(Tables(s, dir, "documents")
      .filter(col("doc_id") < oracleSliceN &&
        col("doc_id") % ndMod >= ndBaseSlots))
    val matches = deltaBandProbe(mhBandedOf(deltaSigs), mhBandedOf(baseSigs))
    mhPairsRollup(matches, baseSigs.union(deltaSigs))
      .withColumn("status",
        when(col("id_a") % ndMod >= ndBaseSlots &&
          col("id_b") % ndMod >= ndBaseSlots, lit("delta_delta"))
          .otherwise(lit("delta_vs_base")))
  }
  private[operators] val d63Sql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE doc_id < $oracleSliceN AND length(trim(text)) > 0),
       |  s AS (SELECT doc_id, list_distinct(list_transform(
       |      generate_series(1, len(toks) - 2),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
       |    FROM t WHERE len(toks) >= 3),
       |  sig AS (SELECT doc_id, list_transform(generate_series(0, ${mhK - 1}),
       |      i -> list_min(list_transform(sh,
       |        x -> md5(CAST(i AS VARCHAR) || ' ' || x)))) AS sig
       |    FROM s),
       |  banded AS (SELECT doc_id, b.range AS band,
       |      md5(CAST(b.range AS VARCHAR) || '|' || array_to_string(
       |        sig[b.range * ${mhK / mhBands} + 1 : b.range * ${mhK / mhBands} + ${mhK / mhBands}], '|')) AS bucket
       |    FROM sig CROSS JOIN range($mhBands) b),
       |  cand AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_bands
       |    FROM banded x JOIN banded y
       |      ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |    GROUP BY 1, 2)
       |SELECT c.id_a, c.id_b, c.n_bands,
       |  CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |    p -> p[1] = p[2])) AS DOUBLE) / $mhK AS est_jaccard,
       |  CASE WHEN c.id_a % $ndMod >= $ndBaseSlots
       |        AND c.id_b % $ndMod >= $ndBaseSlots THEN 'delta_delta'
       |       ELSE 'delta_vs_base' END AS status
       |FROM cand c JOIN sig sa ON c.id_a = sa.doc_id
       |JOIN sig sb ON c.id_b = sb.doc_id
       |WHERE CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |    p -> p[1] = p[2])) AS DOUBLE) / $mhK >= 0.2
       |  AND (c.id_a % $ndMod >= $ndBaseSlots
       |    OR c.id_b % $ndMod >= $ndBaseSlots)""".stripMargin

  // ---- d64: length quantiles via the mergeable compactor sketch ----
  // The fourth sketch family member next to KMV/HLL (distinct), the
  // Misra-Gries summary (frequent items), and d47's exact bounded
  // histogram: rank/quantile queries over an UNBOUNDED value domain
  // from per-shard state (text/QuantileSketch — the KLL/MRL compactor
  // with a deterministic offset and a SELF-CERTIFYING error budget:
  // every answer is within ±errBound true rank, budgets add under
  // merge). Gate discipline: k = 8192 exceeds the gate corpus, so
  // nothing compacts, err_budget is 0, and the sketch degenerates to
  // exact ranks — the whole pipeline (partition buffering, treeReduce
  // merge, weighted rank walk) is SQL-oracle-checked; the compacting
  // 10×-scale regime is theorem-gated against exact ranks in
  // QuantileSketchSpec (the d55/MG discipline — sketch answers are
  // layout-dependent WITHIN the certified band, so the exact query
  // stays the oracle anchor). Scale shape: one scan → one
  // O(k·log(n/k)) summary per partition → treeReduce; the driver
  // holds one summary, never the corpus.
  private[operators] val qsK = 8192
  private[operators] val qsPs = Seq(1L, 5L, 25L, 50L, 75L, 95L, 99L)
  private def d64(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vals = Tables(s, dir, "documents")
      .filter($"n_chars".isNotNull)
      .select($"n_chars".cast("long")).as[Long]
    val sk = graft.text.QuantileSketch.sketch(vals, qsK)
    val rows = qsPs.map { p =>
      val r = math.max(1L, (p * sk.n + 99L) / 100L)
      (p, r, graft.text.QuantileSketch.valueAtRank(sk, r), sk.errBound)
    }
    rows.toDF("p", "rank", "q_value", "err_budget")
  }
  private[operators] val d64Sql =
    """WITH v AS (SELECT n_chars,
      |    row_number() OVER (ORDER BY n_chars) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM documents WHERE n_chars IS NOT NULL),
      |  ps AS (SELECT unnest([1,5,25,50,75,95,99]) AS p)
      |SELECT CAST(p AS BIGINT) AS p,
      |  CAST(GREATEST(1, (p * n + 99) // 100) AS BIGINT) AS rank,
      |  CAST(n_chars AS BIGINT) AS q_value,
      |  CAST(0 AS BIGINT) AS err_budget
      |FROM ps JOIN v ON v.rn = GREATEST(1, (p * v.n + 99) // 100)""".stripMargin

  /** s31's oracle: d63's pipeline restricted to the delta-vs-base rows
    * (the streamed probe sees only new-vs-index matches; delta-delta
    * pairing is d63's batch leg) without the status tag. */
  private[operators] val s31Sql =
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE doc_id < $oracleSliceN AND length(trim(text)) > 0),
       |  s AS (SELECT doc_id, list_distinct(list_transform(
       |      generate_series(1, len(toks) - 2),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
       |    FROM t WHERE len(toks) >= 3),
       |  sig AS (SELECT doc_id, list_transform(generate_series(0, ${mhK - 1}),
       |      i -> list_min(list_transform(sh,
       |        x -> md5(CAST(i AS VARCHAR) || ' ' || x)))) AS sig
       |    FROM s),
       |  banded AS (SELECT doc_id, b.range AS band,
       |      md5(CAST(b.range AS VARCHAR) || '|' || array_to_string(
       |        sig[b.range * ${mhK / mhBands} + 1 : b.range * ${mhK / mhBands} + ${mhK / mhBands}], '|')) AS bucket
       |    FROM sig CROSS JOIN range($mhBands) b),
       |  cand AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_bands
       |    FROM banded x JOIN banded y
       |      ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |    GROUP BY 1, 2)
       |SELECT c.id_a, c.id_b, c.n_bands,
       |  CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |    p -> p[1] = p[2])) AS DOUBLE) / $mhK AS est_jaccard
       |FROM cand c JOIN sig sa ON c.id_a = sa.doc_id
       |JOIN sig sb ON c.id_b = sb.doc_id
       |WHERE CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |    p -> p[1] = p[2])) AS DOUBLE) / $mhK >= 0.2
       |  AND ((c.id_a % $ndMod >= $ndBaseSlots)
       |    <> (c.id_b % $ndMod >= $ndBaseSlots))""".stripMargin

  // ---- d65: count-min sketch (the counter-matrix frequency sketch) ----
  // The fifth sketch family member next to KMV/HLL (distinct, d46/d49),
  // the Misra-Gries summary (retained heavy items, d55), and the
  // quantile compactor (d64): point-FREQUENCY estimates from a fixed
  // d×w counter matrix (Cormode-Muthukrishnan, J.Algorithms 2005).
  // Each token increments one counter per row (bucket = 48-bit md5
  // slice mod w, row-salted); a term's estimate is the MIN over its d
  // counters — always ≥ the true count (counters only absorb extra
  // mass, never lose it), over by at most the colliding mass in its
  // emptiest bucket (≤ e·N/w with prob 1−e^−d over hash choice).
  // The matrix is trivially MERGEABLE — pointwise sum — which is why
  // the build is nothing but a (row, bucket)-keyed hash agg:
  // Catalyst's partial+final aggregation IS the sketch's merge tree,
  // and the state is d·w = 48 cells whatever the corpus size — the
  // most bounded state in the whole family, so it lifts onto a
  // document readStream unchanged (s34). Where Misra-Gries RETAINS m
  // heavy survivors and forgets the tail, count-min answers EVERY
  // term but can only over-count — complementary halves of the
  // frequency problem. The audit emits exact vs estimate per
  // vocabulary term (bounded at the gate; a 100 TB deployment audits
  // a sampled/top-k slice and serves point queries off the broadcast
  // matrix). Dial w = 16 sits BELOW the fixture vocabulary, so
  // collisions are real (24 of 31 terms over-count at sf0.01) and the
  // min-over-rows logic is non-vacuous; the always-≥-exact and
  // per-row mass-conservation theorems hold at any scale and are
  // spec-pinned (SketchAndQuantileSpec).
  private[operators] val cmD = 3
  private[operators] val cmW = 16L

  /** The d (row, bucket) coordinates of one term under the row-salted
    * 48-bit md5 hashes — one bounded array literal per term, no join.
    * The base hash is width-independent (mod w applied last), so
    * counter matrices at nested widths aggregate EXACTLY (the d68
    * dial-curve theorem). */
  private def cmRbW(term: org.apache.spark.sql.Column, w: Long) =
    array((0 until cmD).map { r =>
      struct(lit(r).as("r"),
        pmod(graft.functions.GraftFunctions.md5Prefix(
          concat(lit(s"cm$r:"), term).cast("binary"), 12),
          lit(w)).as("b"))
    }: _*)
  private def cmRb(term: org.apache.spark.sql.Column) = cmRbW(term, cmW)

  /** The streamable half: one token scan → the d·w-cell counter
    * matrix via one (r, b)-keyed hash agg. Complete-mode state on a
    * readStream is exactly these 48 rows (s34). */
  private[graft] def cmCounters(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(explode(TextOps.tokensOnce(col("text"))).as("term"))
      .select(explode(cmRb(col("term"))).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("tot"))

  /** Audit tail: estimate = min over the term's d counters (the
    * 48-row matrix broadcasts into the vocabulary join), laid next to
    * the exact count so the overcount is visible per term. */
  private[graft] def cmEstimate(counters: DataFrame, counts: DataFrame)
      : DataFrame =
    counts
      .select(col("term"), col("cnt"), explode(cmRb(col("term"))).as("rb"))
      .select(col("term"), col("cnt"),
        col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(counters), Seq("r", "b"))
      .groupBy(col("term"), col("cnt"))
      .agg(min(col("tot")).as("cnt_est"))
      .select(col("term"), col("cnt").as("cnt_exact"), col("cnt_est"),
        (col("cnt_est") - col("cnt")).as("overcount"))

  private def d65(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    cmEstimate(cmCounters(docs), termCountsAgg(docs))
  }

  // ---- d68: count-min width dial curve (the sketch's error audit) ----
  // The x10/v25 dial-audit pattern applied to d65: per width w, the
  // corpus-level overcount profile (how many terms collide, total and
  // worst-case overcounted mass) — the table an operator reads to set
  // w against a memory budget. The dials are NESTED (each divides the
  // next) and the base hash is width-independent, so a narrow matrix
  // is EXACTLY the bucket-sum of a wider one: every counter only
  // gains mass as w shrinks, min-over-rows preserves the ordering,
  // and the whole error column is monotone non-increasing in w — a
  // THEOREM, not an empirical trend, spec-pinned like the v25
  // monotonicity gate. One corpus pass builds the vocabulary counts;
  // each dial adds only vocabulary-bounded work (the est join per w).
  private[operators] val cmDials = Seq(8L, 16L, 64L)

  /** Counter matrix at width w derived from the vocabulary counts
    * (no second corpus pass — Σ_tokens ≡ Σ_terms cnt·1). */
  private def cmCountersOfCounts(counts: DataFrame, w: Long): DataFrame =
    counts
      .select(col("cnt"), explode(cmRbW(col("term"), w)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(sum(col("cnt")).as("tot"))

  /** Per-term estimates at width w (the d65 tail, parameterized). */
  private[graft] def cmEstimateAt(counts: DataFrame, w: Long): DataFrame =
    counts
      .select(col("term"), col("cnt"), explode(cmRbW(col("term"), w)).as("rb"))
      .select(col("term"), col("cnt"),
        col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(cmCountersOfCounts(counts, w)), Seq("r", "b"))
      .groupBy(col("term"), col("cnt"))
      .agg(min(col("tot")).as("cnt_est"))
      .select(col("term"), col("cnt").as("cnt_exact"), col("cnt_est"),
        (col("cnt_est") - col("cnt")).as("overcount"))

  private def d68(s: SparkSession, dir: String): DataFrame = {
    require(cmDials.sliding(2).forall {
      case Seq(a, b) => b % a == 0
      case _ => true
    }, "dial widths must nest for the monotonicity theorem")
    val counts = termCountsAgg(Tables(s, dir, "documents"))
    cmDials.map { w =>
      cmEstimateAt(counts, w)
        .agg(count(lit(1)).as("n_terms"),
          sum(when(col("overcount") > 0L, 1L).otherwise(0L))
            .as("n_collided"),
          sum(col("overcount")).as("total_overcount"),
          max(col("overcount")).as("max_overcount"))
        .select(lit(w).as("w"), col("n_terms"), col("n_collided"),
          col("total_overcount"), col("max_overcount"))
    }.reduce(_.unionAll(_))
  }
  private[operators] val d68Sql = {
    def dial(w: Long) =
      s"""SELECT CAST($w AS BIGINT) AS w,
         |  CAST(COUNT(*) AS BIGINT) AS n_terms,
         |  CAST(SUM(CASE WHEN e.cnt_est > e.cnt THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_collided,
         |  CAST(SUM(e.cnt_est - e.cnt) AS BIGINT) AS total_overcount,
         |  CAST(MAX(e.cnt_est - e.cnt) AS BIGINT) AS max_overcount
         |FROM (
         |  SELECT hb.term, hb.cnt, MIN(ctr.tot) AS cnt_est
         |  FROM (SELECT term, cnt, r.range AS r,
         |      CAST('0x' || substr(md5('cm' || CAST(r.range AS VARCHAR) || ':' || term), 1, 12) AS BIGINT) % $w AS b
         |    FROM c CROSS JOIN range($cmD) r) hb
         |  JOIN (SELECT r.range AS r,
         |      CAST('0x' || substr(md5('cm' || CAST(r.range AS VARCHAR) || ':' || term), 1, 12) AS BIGINT) % $w AS b,
         |      CAST(SUM(cnt) AS BIGINT) AS tot
         |    FROM c CROSS JOIN range($cmD) r GROUP BY 1, 2) ctr
         |    ON hb.r = ctr.r AND hb.b = ctr.b
         |  GROUP BY 1, 2) e""".stripMargin
    s"""WITH t AS (SELECT
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1)
       |${cmDials.map(dial).mkString(" UNION ALL ")}""".stripMargin
  }
  private[operators] val d65Sql =
    s"""WITH t AS (SELECT
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1),
       |hb AS (SELECT term, cnt, r.range AS r,
       |    CAST('0x' || substr(md5('cm' || CAST(r.range AS VARCHAR) || ':' || term), 1, 12) AS BIGINT) % $cmW AS b
       |  FROM c CROSS JOIN range($cmD) r),
       |ctr AS (SELECT r, b, CAST(SUM(cnt) AS BIGINT) AS tot
       |  FROM hb GROUP BY 1, 2)
       |SELECT hb.term, hb.cnt AS cnt_exact, MIN(ctr.tot) AS cnt_est,
       |  MIN(ctr.tot) - hb.cnt AS overcount
       |FROM hb JOIN ctr ON hb.r = ctr.r AND hb.b = ctr.b
       |GROUP BY 1, 2""".stripMargin

  // ---- d66: BPE merge training (tokenizer vocabulary induction) ----
  // The byte-pair-encoding trainer (Sennrich et al., ACL 2016) that
  // produces the merge table a tokenizer ships with — the missing
  // piece between d02's token counting and d40's fertility audit,
  // which ASSUME a tokenizer this query now trains. Scale shape: the
  // corpus is touched ONCE (the word-frequency hash agg, key domain =
  // the vocabulary, Heaps-sublinear), cached, and every one of the k
  // merge rounds runs on that vocabulary table: adjacent-pair counts
  // are a second bounded hash agg (pair domain ≤ vocab · word length)
  // and the argmax pair reaches the driver as ONE row via a bounded
  // top-1 (TakeOrderedAndProject) — the I3 driver-orchestration
  // discipline, k scalars total, nothing corpus-sized on the driver.
  // Determinism: pair counts include overlapping adjacents (the naive
  // count both engines compute identically); ties break lexicographic
  // on the pair string (binary collation in both engines); the merge
  // APPLY is greedy left-to-right via non-overlapping string replace
  // (' a b ' → ' ab ' on space-fenced symbol strings), which Java's
  // String.replace and DuckDB's replace implement with identical
  // semantics — so the whole trainer unrolls into a k-step CTE chain
  // the oracle replays bit-for-bit (the m03/v29 discipline).
  private[operators] val bpeK = 6

  /** Char-level symbol strings for the corpus vocabulary: one row per
    * distinct word, space-fenced (' w o r d ') so merges apply as
    * fenced string replaces. The single corpus-sized pass. */
  private def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select(explode(TextOps.tokensOnce($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        concat(lit(" "), regexp_replace($"term", "(.)", "$1 ")))
  }

  /** The trainer loop: k greedy rounds over the cached vocabulary
    * table; only the argmax (pair, cnt) row crosses the driver each
    * round. Returns the learned merge table in order.
    *
    * Memoized per (session, dataset): the merge table is a k-row
    * driver constant of the corpus, and FOUR queries consume it
    * (d66 train, d67 audit, d86 encode, s37 stream) — each paid the
    * k distributed argmax rounds per run before this (the bloom/bm25
    * small-constant memoization rule). */
  private val bpeMergeCache =
    new SessionCache[String, Seq[(Long, String, Long, String)]](_ => ())
  private[operators] def bpeMerges(s: SparkSession, dir: String)
      : Seq[(Long, String, Long, String)] =
    bpeMergeCache.getOrBuild(s, dir) { bpeMergesUncached(s, dir) }

  private def bpeMergesUncached(s: SparkSession, dir: String)
      : Seq[(Long, String, Long, String)] = {
    import s.implicits._
    val vocab0 = bpeVocab(s, dir).select($"freq", $"syms").persist()
    vocab0.count() // materialize: the single corpus-sized pass
    try {
      var vocab: DataFrame = vocab0
      val merges = Seq.newBuilder[(Long, String, Long, String)]
      for (step <- 1 to bpeK) {
        val top = vocab
          .select($"freq", split(trim($"syms"), " ").as("toks"))
          .filter(size($"toks") >= 2)
          .select($"freq", explode(expr(
            "transform(sequence(0, size(toks) - 2), " +
              "i -> concat(toks[i], ' ', toks[i + 1]))")).as("pair"))
          .groupBy($"pair").agg(sum($"freq").as("cnt"))
          .orderBy($"cnt".desc, $"pair".asc).limit(1).head()
        val pair = top.getAs[String]("pair")
        val cnt = top.getAs[Long]("cnt")
        val merged = pair.replace(" ", "")
        merges += ((step.toLong, pair, cnt, merged))
        vocab = vocab.withColumn("syms", bpeApplyOne(pair))
      }
      merges.result()
    } finally vocab0.unpersist()
  }

  /** One learned merge over the `syms` column as a fenced replace
    * projection (greedy left-to-right, non-overlapping — Java and
    * DuckDB `replace` share these semantics). The pair rides as a
    * literal Column, never spliced into an expr string — a corpus
    * token containing a quote or backslash is data, not SQL
    * (ADVICE r15). */
  private def bpeApplyOne(pair: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.replace(col("syms"),
      lit(s" $pair "), lit(s" ${pair.replace(" ", "")} "))

  private def d66(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeMerges(s, dir).toDF("step", "pair", "cnt", "merged")
  }
  /** Shared oracle prefix replaying the trainer: CTEs t → w → v0 and
    * one (p_i, m_i, v_i) triple per round, ending at v<bpeK> — the
    * merge-applied vocabulary both d66 (merge table) and d67
    * (segmentation stats) read. */
  private def bpeCtePrefix: String = {
    def step(i: Int) =
      s"""p$i AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, toks[j] || ' ' || toks[j + 1] AS pair
         |    FROM (SELECT freq, string_split(trim(syms), ' ') AS toks
         |          FROM v${i - 1}),
         |         UNNEST(generate_series(1, len(toks) - 1)) AS u(j)
         |  ) GROUP BY 1),
         |m$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |v$i AS (SELECT term, freq,
         |    replace(syms, ' ' || m$i.pair || ' ',
         |      ' ' || replace(m$i.pair, ' ', '') || ' ') AS syms
         |  FROM v${i - 1} CROSS JOIN m$i)""".stripMargin
    val steps = (1 to bpeK).map(step).mkString(",\n")
    s"""t AS (SELECT
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |w AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1),
       |v0 AS (SELECT term, freq,
       |    ' ' || regexp_replace(term, '(.)', '\\1 ', 'g') AS syms FROM w),
       |$steps""".stripMargin
  }
  private[operators] val d66Sql = {
    val out = (1 to bpeK).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, pair, cnt, " +
        s"replace(pair, ' ', '') AS merged FROM m$i").mkString(" UNION ALL ")
    s"WITH $bpeCtePrefix\nSELECT * FROM ($out)"
  }

  // ---- d67: BPE encode + fertility audit (the trainer applied) ----
  // d66's merge table put to work: segment every corpus word with the
  // learned merges and report per-source token fertility (tokens per
  // word) — the compression audit that decides whether a tokenizer
  // fits a corpus slice, and the trained-tokenizer complement of
  // d40's fixed-regex fertility. Scale shape: the ENCODE never
  // touches documents row-by-row — segmentation is computed once per
  // DISTINCT word (the vocabulary table, k fenced-replace projections
  // — k bounded constants, no join), and the corpus side reduces to
  // (source, term) counts (a vocabulary-bounded hash agg, the d55/s28
  // key domain) before joining the segment lengths on the term key.
  // That (source, term)-counts half is streamable complete-mode
  // (s37); the fertility tail divides two exact BIGINTs and
  // floor-rounds to 6dp, so the whole audit is cross-engine exact.
  private[graft] def bpeSourceTermCounts(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), explode(TextOps.tokensOnce(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))

  /** Per-word segment counts under the learned merges: the vocabulary
    * table pushed through the k replace projections (no corpus rows,
    * no join — merges are driver constants). */
  private[graft] def bpeSegmentation(s: SparkSession, dir: String,
      merges: Seq[(Long, String, Long, String)]): DataFrame = {
    var v = bpeVocab(s, dir).select(col("term"), col("syms"))
    for ((_, pair, _, _) <- merges)
      v = v.withColumn("syms", bpeApplyOne(pair))
    v.select(col("term"),
      size(split(trim(col("syms")), " ")).cast("long").as("n_sym"))
  }

  /** Fertility tail: join counts to segment lengths on the term key,
    * roll up per source. Exact integer sums; 6dp floor-form ratio. */
  private[graft] def bpeFertility(stCounts: DataFrame, seg: DataFrame)
      : DataFrame =
    stCounts.join(seg, Seq("term"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_sym")).as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        expr("floor(n_tokens / n_words * 1e6 + 0.5) / 1e6")
          .as("fertility"))

  private def d67(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges(s, dir)
    bpeFertility(bpeSourceTermCounts(Tables(s, dir, "documents")),
      bpeSegmentation(s, dir, merges))
  }
  private[operators] val d67Sql =
    s"""WITH $bpeCtePrefix,
       |seg AS (SELECT term, len(string_split(trim(syms), ' ')) AS n_sym
       |  FROM v$bpeK),
       |td AS (SELECT source,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT source, unnest(toks) AS term FROM td) GROUP BY 1, 2)
       |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_words,
       |  CAST(SUM(cnt * n_sym) AS BIGINT) AS n_tokens,
       |  floor(CAST(SUM(cnt * n_sym) AS BIGINT) / CAST(SUM(cnt) AS BIGINT)
       |    * 1e6 + 0.5) / 1e6 AS fertility
       |FROM st JOIN seg USING (term) GROUP BY 1""".stripMargin

  // ---- d86: greedy BPE encode-apply (the canonical encoder) ----
  // The production encoder d66's merge table ships into: segment text
  // by applying each learned merge IN RANK ORDER, merging every
  // occurrence left-to-right — the greedy encode real BPE tokenizers
  // run on new text. d67's audit shares the trainer's SINGLE-fence
  // symbol strings (' a b c '), where one replace pass under-merges
  // repeated-symbol runs: consecutive ' a a ' occurrences share a
  // fence space, so the scan skips every other pair (' a a a a '
  // one-passes to ' aa a a ', and even iterating to fixpoint strands
  // ' aa a aa ' alignments no real tokenizer produces). The encoder
  // therefore wraps every symbol in its OWN fences (' a  b  c ' —
  // two spaces between cells): a pair occurrence ' x  y ' consumes
  // only its own cells' fences, so ONE non-overlapping replace pass
  // merges exactly the canonical left-to-right pairing (' a  a  a  a '
  // → ' aa  aa '), and rank order alone is the full greedy encode —
  // a merge can never create an earlier-rank pair (new adjacencies
  // always involve the freshly merged, strictly longer symbol), so
  // one pass per merge reaches the tokenizer's fixpoint
  // (BpeEncodeSpec proves re-running the whole chain is the identity,
  // plus byte-exact decode(encode(term)) == term).
  //
  // Scale shape: the d67 discipline — the encoder runs over the
  // DISTINCT-WORD vocabulary table (k replace projections, merges are
  // driver constants, no join), and the corpus side reduces to
  // (source, term) counts before joining segment lengths on the term
  // key. Fertility over the REAL segmentation closes the tokenizer
  // story: train (d66) → encode (d86) → audit (d67 proxy vs d86
  // canonical). Oracle: the d66 unrolled-CTE replay extended with the
  // per-merge encode chain — bit-for-bit the same replaces.

  /** Canonical greedy encode over a (term, syms) frame in the
    * OWN-FENCED representation (' a  b  c '): each merge, in rank
    * order, as one cell-exact replace. */
  private[graft] def bpeEncodeSyms(v0: DataFrame,
      merges: Seq[(Long, String, Long, String)]): DataFrame = {
    var v = v0
    for ((_, pair, _, _) <- merges) {
      // the pair rides as a literal Column (ADVICE r15: an expr-string
      // splice corrupted on backslashes under escaped string literals)
      v = v.withColumn("syms",
        org.apache.spark.sql.functions.replace(col("syms"),
          lit(s" ${pair.replace(" ", "  ")} "),
          lit(s" ${pair.replace(" ", "")} ")))
    }
    v
  }

  /** Own-fenced char cells for every distinct corpus word. */
  private[graft] def bpeEncodeVocab(s: SparkSession, dir: String): DataFrame =
    bpeVocab(s, dir).select(col("term"),
      regexp_replace(col("term"), "(.)", " $1 ").as("syms"))

  /** Vocabulary segmented by the canonical greedy encoder. */
  private[graft] def bpeEncodeSegmentation(s: SparkSession, dir: String,
      merges: Seq[(Long, String, Long, String)]): DataFrame =
    bpeEncodeSyms(bpeEncodeVocab(s, dir), merges)

  private def d86(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges(s, dir)
    bpeFertility(bpeSourceTermCounts(Tables(s, dir, "documents")),
      bpeEncodeSegmentation(s, dir, merges).select(col("term"),
        size(split(trim(col("syms")), "  ")).cast("long").as("n_sym")))
  }
  private[operators] val d86Sql = {
    val enc = (1 to bpeK).map { i =>
      val prev = if (i == 1) "e0" else s"e${i - 1}"
      s"""e$i AS (SELECT term, replace(syms,
         |    ' ' || replace(m$i.pair, ' ', '  ') || ' ',
         |    ' ' || replace(m$i.pair, ' ', '') || ' ') AS syms
         |  FROM $prev CROSS JOIN m$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeCtePrefix,
       |e0 AS (SELECT term,
       |    regexp_replace(term, '(.)', ' \\1 ', 'g') AS syms FROM v0),
       |$enc,
       |seg AS (SELECT term, len(string_split(trim(syms), '  ')) AS n_sym
       |  FROM e$bpeK),
       |td AS (SELECT source,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT source, unnest(toks) AS term FROM td) GROUP BY 1, 2)
       |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_words,
       |  CAST(SUM(cnt * n_sym) AS BIGINT) AS n_tokens,
       |  floor(CAST(SUM(cnt * n_sym) AS BIGINT) / CAST(SUM(cnt) AS BIGINT)
       |    * 1e6 + 0.5) / 1e6 AS fertility
       |FROM st JOIN seg USING (term) GROUP BY 1""".stripMargin
  }

  // ---- d71/d72: exact substring dedup at L-token resolution ----
  // The suffix-array dedup method (Lee et al., "Deduplicating Training
  // Data Makes Language Models Better") re-expressed as its standard
  // distributed approximation: instead of building a corpus suffix
  // array, slide an L-token window over every document (POSITIONED
  // grams, not the distinct shingle SET the MinHash family uses), call
  // a window duplicated when its gram text occurs at >= 2 sites
  // corpus-wide, and merge overlapping/touching duplicated windows
  // into maximal per-doc spans (gaps-and-islands). Any repeated
  // substring of >= L tokens is covered exactly; shorter repeats are
  // ignored by construction — L is the method's only dial.
  //
  // Scale shape: one tokenize pass → posexplode to (doc, pos, md5)
  // sites → ONE hash-agg shuffle on the gram hash builds the
  // dup-gram ledger → ONE shuffled equi-join probes sites against it
  // (the ledger is corpus-proportional, so it is NEVER broadcast nor
  // collected — the x06/s25-lesson shape, pinned in
  // PlanDisciplineSpec) → the islands merge runs per-doc windows whose
  // partitions are bounded by document length. Everything is integer
  // math on token positions, so the whole operator is cross-engine
  // exact.
  private[operators] val dupL = 8

  /** Positioned L-gram sites: (doc_id, pos, gh). Positions are 0-based
    * token indexes.
    *
    * r19 (the s43/d78 treatment, extended): the production form keys
    * grams on d82's codegen'd kernel (`graft_gram_hashes`, one
    * xxhash64 pass per window, 8-byte keys) instead of the md5-HOF
    * string pipeline. gh never reaches any consumer output (spans,
    * scrub ledgers, dial curves, flow matrices only), and every
    * consumer oracle re-derives the grouping from gram STRINGS in
    * DuckDB, so the shared oracles double as cross-hash equivalence
    * checks at both gated scales. d71 alone stays on `gramSitesMd5` —
    * it is the DESIGNATED interpreted md5 sibling whose frame equality
    * with d82 (DupSpansSpec) is the in-engine cross-hash proof. */
  private[operators] def gramSites(docs: DataFrame): DataFrame =
    gramSitesNativeOfToks(docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokensOnce(col("text")).as("toks")), dupL)

  /** The md5-HOF site builder (d71, the d82-vs-d71 pairing's
    * interpreted side). */
  private[operators] def gramSitesMd5(docs: DataFrame): DataFrame =
    gramSitesOfToks(docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokensOnce(col("text")).as("toks")), dupL)

  /** Gram sites over an already-tokenized (doc_id, toks) frame — the
    * seam that lets d77's four L rungs share ONE tokenize pass. */
  private[operators] def gramSitesOfToks(toks: DataFrame, l: Int): DataFrame = {
    val parts = (0 until l).map(j => s"toks[i + $j]").mkString(", ")
    toks.filter(size(col("toks")) >= l)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $l), " +
          s"i -> md5(cast(concat_ws(' ', $parts) as binary)))")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("gh"))
  }

  // d77's four L rungs each re-derive gram sites from the SAME tokens
  // column — the tokenize pass (scan + regex split) was the rungs'
  // shared cost, paid four times (VERDICT r14 next 7). Memoized per
  // (session, dir) under the gopher-verdict pattern; MEMORY_AND_DISK
  // so a corpus-sized tokens column spills instead of evicting.
  private val tokenizedCache = new SessionCache[String, DataFrame](_.unpersist())
  private def tokenizedDocs(s: SparkSession, dir: String): DataFrame =
    tokenizedCache.getOrBuild(s, dir) {
      // `source` rides along (a few bytes next to the corpus-sized toks
      // column) so consumers that need it — d91's URL rung, the release
      // ledger build — don't re-scan the raw corpus for one column
      val t = Tables(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("source"),
          TextOps.tokensOnce(col("text")).as("toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count() // materialize under the builder's monitor
      t
    }

  /** Gram sites with the doc's source carried through the explode —
    * free in the projection, and saves the d78/s43 consumers a join
    * back to the documents table.
    *
    * r19 (VERDICT r18 next 3, the s43 slope): the gram key is d82's
    * production gram kernel (`graft_gram_hashes`, one codegen'd
    * xxhash64 pass per window over a reused byte buffer), not
    * md5(concat_ws(...)). `gh` never reaches any output and the d78
    * oracle re-derives the flows in DuckDB from the gram STRINGS, so
    * only the grouping (gram equality) matters — identical under any
    * injective-enough hash, the same premise every xxhash64-keyed
    * dedup family already stands on. The shared oracle is therefore
    * ALSO the cross-hash equivalence check (the d82-vs-d71 pairing:
    * DuckDB groups md5 grams, Spark groups kernel hashes, outputs must
    * agree row-for-row at both gated scales). What changes is the
    * per-site cost the s43 probe pays on EVERY streamed document: no
    * gram string materialization + no md5, and the shuffle/join key
    * drops from a 32-char string to 8 bytes. */
  private[graft] def gramSitesSrc(docs: DataFrame): DataFrame =
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        TextOps.tokensOnce(col("text")).as("toks"))
      .filter(size(col("toks")) >= dupL)
      .select(col("doc_id"), col("source"), posexplode(
        graft.functions.GraftFunctions.gramHashes(col("toks"), dupL)))
      .select(col("doc_id"), col("source"),
        col("pos").cast("long").as("pos"), col("col").as("gh"))

  /** Copy-flow ledger: one row per DUPLICATED gram — its hash, origin
    * site (first corpus occurrence), and origin source. Corpus-
    * proportional, so consumers join it SHUFFLED (the s40 ledger
    * discipline); s43 probes it stream-static.
    *
    * Keeper election is `min(struct(doc_id, pos, source))` per gh —
    * NOT a window: windows can't partial-aggregate, so a hot gram
    * (boilerplate spans, templated mirrors — the exact workload this
    * family exists for) would funnel its millions of sites through
    * one post-shuffle task. The min-struct form collapses each hot
    * key to one row per MAPPER before the shuffle (VERDICT r13 §wrong
    * 3; no-Window pinned in PlanDisciplineSpec). (doc_id, pos) is
    * unique per site, so the struct min IS the `ORDER BY doc_id, pos`
    * first row. */
  private[operators] def copyFlowLedger(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    gramSitesSrc(Tables(s, dir, "documents"))
      .groupBy($"gh")
      .agg(min(struct($"doc_id", $"pos", $"source")).as("k"),
        count(lit(1)).as("n_sites_g"))
      .filter($"n_sites_g" >= 2)
      .select($"gh", $"k.source".as("src_from"),
        $"k.doc_id".as("kdoc"), $"k.pos".as("kpos"))
  }

  /** Islands merge: duplicated-window start positions → maximal
    * per-doc spans [span_start, span_end). Two L-windows merge when
    * their token coverage overlaps or touches (pos <= prev + L); the
    * window partitions by doc, so state is bounded by doc length. */
  private[operators] def dupSpansOf(hits: DataFrame): DataFrame =
    dupSpansOfL(hits, dupL)

  private[operators] def dupSpansOfL(hits: DataFrame, l: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("ns", when(lag(col("pos"), 1).over(w).isNull ||
        col("pos") > lag(col("pos"), 1).over(w) + l, 1L).otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(run))
      .groupBy(col("doc_id"), col("sid"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + l).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        col("n_dup_grams"))
  }

  /** The dup-gram ledger: every gram hash with >= 2 corpus sites. One
    * row per duplicated gram — corpus-proportional, so consumers join
    * it SHUFFLED, never broadcast (the x06/s25 ledger discipline;
    * pinned for the s40 stream in PlanDisciplineSpec). */
  private[operators] def dupGramLedger(s: SparkSession, dir: String)
      : DataFrame =
    gramSites(Tables(s, dir, "documents"))
      .groupBy(col("gh")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("gh"))

  /** Removable sites under keeper semantics: every site of a
    * duplicated gram EXCEPT its first corpus occurrence
    * (min (doc_id, pos)). The keeper is elected by a partial-
    * aggregable `min(struct(...))` per gh and joined back — never a
    * `row_number` window, which would funnel every site of a hot gram
    * (boilerplate, templated mirrors: the workload substring dedup
    * exists for) through one post-shuffle task (VERDICT r13 §wrong 3;
    * no-Window pinned in PlanDisciplineSpec). Both legs shuffle on
    * the same gh key over the same scan subtree, so the exchange is
    * reused — the operator still pays d71's single gh shuffle. */
  private[operators] def removableSites(sites: DataFrame): DataFrame = {
    val keepers = sites.groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("gh"), col("k.doc_id").as("kdoc"), col("k.pos").as("kpos"))
    sites.join(keepers, "gh")
      .filter(!(col("doc_id") === col("kdoc") && col("pos") === col("kpos")))
      .select(col("doc_id"), col("pos"))
  }

  private def d71(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sites = gramSitesMd5(Tables(s, dir, "documents"))
    val dup = sites.groupBy($"gh").agg(count(lit(1)).as("n"))
      .filter($"n" >= 2).select($"gh")
    dupSpansOf(sites.join(dup, "gh").select($"doc_id", $"pos"))
  }
  // shared CTE prefix: positioned grams + their md5 (DuckDB unnest
  // form of the posexplode)
  private val dupGramCte = {
    val cat = (1 to dupL).map(j => s"toks[pos + $j]").mkString(" || ' ' || ")
    s"""t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |p AS (SELECT doc_id, unnest(generate_series(1, len(toks) - $dupL + 1)) - 1 AS pos, toks
       |  FROM t WHERE len(toks) >= $dupL),
       |g AS (SELECT doc_id, pos, md5($cat) AS gh FROM p)""".stripMargin
  }
  private val dupIslandsSql =
    s"""m AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER w IS NULL
       |      OR pos > lag(pos) OVER w + $dupL THEN 1 ELSE 0 END AS ns
       |  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |sp AS (SELECT doc_id, pos, SUM(ns) OVER
       |    (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM m)""".stripMargin
  private[operators] val d71Sql =
    s"""WITH $dupGramCte,
       |d AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
       |h AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gh)),
       |$dupIslandsSql
       |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + $dupL AS span_end,
       |  MAX(pos) + $dupL - MIN(pos) AS span_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_dup_grams
       |FROM sp GROUP BY doc_id, sid""".stripMargin

  // d72: the APPLY side with keeper semantics — every duplicated gram
  // keeps its first corpus occurrence (min (doc_id, pos)) and marks
  // every later site removable (removableSites: min-struct election +
  // join-back on the gh shuffle d71 already pays); removable windows
  // merge into spans and roll up to the per-doc scrub ledger (how
  // many tokens exact substring dedup would cut, and the ppm it
  // frees). Docs shorter than L tokens carry no windows and are
  // excluded from the ledger (they have no removable content by
  // construction).
  private def d72(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val cut = dupSpansOf(removableSites(gramSites(docs)))
      .groupBy($"doc_id").agg(sum($"span_tokens").as("dup_tokens"))
    docs.filter(length(trim($"text")) > 0)
      .select($"doc_id", size(TextOps.tokensOnce($"text")).cast("long").as("n_tokens"))
      .filter($"n_tokens" >= dupL)
      .join(cut, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"dup_tokens", lit(0L)).as("dup_tokens"),
        ($"n_tokens" - coalesce($"dup_tokens", lit(0L))).as("clean_tokens"),
        expr("coalesce(dup_tokens, 0L) * 1000000 div n_tokens").as("dup_ppm"))
  }
  private[operators] val d72Sql =
    s"""WITH $dupGramCte,
       |r AS (SELECT doc_id, pos, row_number() OVER
       |    (PARTITION BY gh ORDER BY doc_id, pos) AS rn FROM g),
       |h AS (SELECT doc_id, pos FROM r WHERE rn >= 2),
       |$dupIslandsSql,
       |spans AS (SELECT doc_id, MAX(pos) + $dupL - MIN(pos) AS span_tokens
       |  FROM sp GROUP BY doc_id, sid),
       |cut AS (SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
       |  FROM spans GROUP BY 1),
       |sz AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM t WHERE len(toks) >= $dupL)
       |SELECT sz.doc_id, n_tokens,
       |  CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  CAST(n_tokens - COALESCE(dup_tokens, 0) AS BIGINT) AS clean_tokens,
       |  CAST(COALESCE(dup_tokens, 0) * 1000000 // n_tokens AS BIGINT) AS dup_ppm
       |FROM sz LEFT JOIN cut ON sz.doc_id = cut.doc_id""".stripMargin

  // ---- d73: MinHash LSH S-curve dial audit (bands × rows sweep) ----
  // The design tool that picks the near-dup family's (bands, rows)
  // dial: for every nested split of the k=16-slot md5-minhash
  // signature — (16,1), (8,2), (4,4: the production d10 dial), (2,8)
  // — the empirical band-capture rate as a function of true Jaccard,
  // next to the theoretical S-curve 1-(1-s^r)^b (spec-side). The
  // corpus's own pair population is BIMODAL here (background ~0,
  // clones ~0.9 — nothing in the S-curve's decision region), so the
  // audit builds CONTROLLED-overlap pairs instead: each doc against
  // its own p/10-prefix (p = 2,4,6,8). Prefix 3-gram shingles are a
  // subset of the doc's, so true Jaccard is exactly |sh(prefix)| /
  // |sh(doc)| ≈ p/10 — every curve region populated by construction.
  //
  // Scale shape: NO pair join at all — both signatures and all four
  // band verdicts are computed row-locally (band codes of an aligned
  // pair match iff their slot runs are equal), so the audit is one
  // scan → ×4 explode → projection → 4×11-key hash agg: linear,
  // streamable, and unlike the classic quadratic audit it could run
  // over the whole corpus at 100 TB (here it runs on the d05 slice
  // for the gate). Because the four splits are NESTED powers of two,
  // a matching r-slot run contains its matching r/2 sub-runs — so
  // per-pair capture is monotone-contained in r and every bin's
  // n_captured is non-increasing from r=1 to r=8 (a theorem,
  // spec-pinned in LshDialSpec — the d68 nested-widths doctrine).
  // Integer outputs; the bin index is one divide + floor,
  // IEEE-identical cross-engine.
  private val lshSliceN = 100
  private val lshCfgs = Seq(16, 8, 4, 2) // bands; rows = 16/bands
  private val lshPs = Seq(2, 4, 6, 8) // prefix tenths

  // native md5-minhash kernel (r22, same swap as mhSigs): the HOF
  // form cost k×|sh| interpreted md5+concat+hex per row — ×2 here
  // (sigf and sigp)
  private def sigOfSh(shCol: String) =
    graft.functions.GraftFunctions.md5Minhash(col(shCol), mhK)

  private def d73(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .filter($"doc_id" < lshSliceN && length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 15) // p=2 prefix still has >= 1 shingle
      .withColumn("p", explode(lit(lshPs.toArray)))
      .withColumn("ptoks", expr("slice(toks, 1, (size(toks) * p + 9) div 10)"))
      .withColumn("shf", TextOps.shingles("toks", 3))
      .withColumn("shp", TextOps.shingles("ptoks", 3))
      .withColumn("jbin", expr(
        "cast(floor(size(shp) / cast(size(shf) as double) * 10) as bigint)"))
      .withColumn("sigf", sigOfSh("shf"))
      .withColumn("sigp", sigOfSh("shp"))
    val cfgs = lshCfgs.map { b =>
      val r = mhK / b
      s"struct(cast($b as bigint) as bands, cast($r as bigint) as rows_per_band, " +
        s"exists(sequence(0, ${b - 1}), t -> " +
        s"slice(sigf, t * $r + 1, $r) = slice(sigp, t * $r + 1, $r)) as hit)"
    }.mkString(", ")
    base.select($"jbin", explode(expr(s"array($cfgs)")).as("cfg"))
      .groupBy($"cfg.bands".as("bands"),
        $"cfg.rows_per_band".as("rows_per_band"), $"jbin")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("cast(cfg.hit as bigint)")).as("n_captured"))
      .select($"bands", $"rows_per_band", $"jbin", $"n_pairs", $"n_captured",
        expr("n_captured * 1000000 div n_pairs").as("capture_ppm"))
  }
  private val d73Sql = {
    val perCfg = lshCfgs.map { b =>
      val r = mhK / b
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |  jbin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN len(list_filter(generate_series(0, ${b - 1}),
         |      t -> sigf[t * $r + 1 : t * $r + $r] = sigp[t * $r + 1 : t * $r + $r]))
         |    > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_captured,
         |  CAST(SUM(CASE WHEN len(list_filter(generate_series(0, ${b - 1}),
         |      t -> sigf[t * $r + 1 : t * $r + $r] = sigp[t * $r + 1 : t * $r + $r]))
         |    > 0 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS capture_ppm
         |FROM x GROUP BY jbin""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE doc_id < $lshSliceN AND length(trim(text)) > 0),
       |b0 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 15),
       |v AS (SELECT doc_id, p.range AS p, toks,
       |    toks[1 : (len(toks) * p.range + 9) // 10] AS ptoks
       |  FROM b0 CROSS JOIN range(2, 9, 2) p),
       |w AS (SELECT doc_id, p,
       |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shf,
       |    list_distinct(list_transform(generate_series(1, len(ptoks) - 2),
       |      i -> ptoks[i] || ' ' || ptoks[i + 1] || ' ' || ptoks[i + 2])) AS shp
       |  FROM v),
       |x AS (SELECT doc_id, p,
       |    CAST(floor(len(shp) / CAST(len(shf) AS DOUBLE) * 10) AS BIGINT) AS jbin,
       |    list_transform(generate_series(0, ${mhK - 1}), i ->
       |      list_min(list_transform(shf,
       |        s -> md5(CAST(i AS VARCHAR) || ' ' || s)))) AS sigf,
       |    list_transform(generate_series(0, ${mhK - 1}), i ->
       |      list_min(list_transform(shp,
       |        s -> md5(CAST(i AS VARCHAR) || ' ' || s)))) AS sigp
       |  FROM w)
       |$perCfg""".stripMargin
  }

  // ---- d74: per-source dataset card (the curation datasheet) ----
  // The table a curation run PUBLISHES next to its manifest — the
  // "datasheet for the dataset": per source, corpus volume (docs,
  // tokens), every screen's flag counts (token-fuzzy d58, Bloom d57,
  // semantic v31 — via the d70 per-doc report), the surviving-doc
  // count, and the exact-substring duplication charge (d72's scrub
  // ledger) as tokens and ppm. Everything here is a rollup of
  // already-gated engines — no gram, hash, or vector work happens in
  // this query; its scale cost is the d70/d72 subplans it composes
  // (SessionCache'd screens, one d72 gram pass) plus one 20-key hash
  // agg. The oracle composes the same sibling oracles (d70's, with
  // the d58 golden inlined — so this card is gate-scale-pinned and
  // listed in GoldenSweepSpec's golden classification; its
  // composition contract is re-proven live at the sweep scale there).
  private def d74(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the datasheet is a |sources|-key rollup of the materialized
    // report — r15's 18-scan plan (the d70/d72 subplans re-derived
    // inline) is now ONE report read + one bounded hash agg
    screenReport(s, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks").as("n_tokens"),
        sum($"flag_fuzzy").as("n_flag_fuzzy"),
        sum($"flag_bloom").as("n_flag_bloom"),
        sum($"flag_semantic").as("n_flag_semantic"),
        sum(when($"flag_fuzzy" + $"flag_bloom" + $"flag_semantic" === 0L,
          1L).otherwise(0L)).as("n_keep"),
        sum(coalesce($"dup_tokens", lit(0L))).as("dup_tokens"))
      .select($"source", $"n_docs", $"n_tokens", $"n_flag_fuzzy",
        $"n_flag_bloom", $"n_flag_semantic", $"n_keep", $"dup_tokens",
        expr("dup_tokens * 1000000 div n_tokens").as("dup_ppm"))
  }
  private lazy val d74Sql =
    "WITH rep AS (SELECT * FROM (\n" + d70Sql + "\n) repq),\n" +
      "scrub AS (SELECT * FROM (\n" + d72Sql + "\n) scrubq),\n" +
      s"""sz AS (SELECT doc_id, CAST(len(string_split(lower(trim(
         |    regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT)
         |    AS n_toks
         |  FROM documents
         |  WHERE doc_id >= $fuzzyEvalN AND length(trim(text)) > 0)
         |SELECT rep.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(flag_fuzzy) AS BIGINT) AS n_flag_fuzzy,
         |  CAST(SUM(flag_bloom) AS BIGINT) AS n_flag_bloom,
         |  CAST(SUM(flag_semantic) AS BIGINT) AS n_flag_semantic,
         |  CAST(SUM(keep) AS BIGINT) AS n_keep,
         |  CAST(SUM(COALESCE(scrub.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
         |  CAST(SUM(COALESCE(scrub.dup_tokens, 0)) * 1000000
         |    // SUM(n_toks) AS BIGINT) AS dup_ppm
         |FROM rep JOIN sz USING (doc_id)
         |LEFT JOIN scrub ON rep.doc_id = scrub.doc_id
         |GROUP BY 1""".stripMargin

  // The gopher verdict the two classifier audits (d75/d76) both join
  // against is memoized per (session, dir) — the d60 screen pattern
  // (VERDICT r13 next 5): the 5-resolution gram battery is the whole
  // cost of either audit, and a sweep that runs d43+d75+d76 paid it
  // three times. The gated d43 engine itself stays fresh (auditable);
  // only the composed consumers read the cache.
  private val gopherCache = new SessionCache[String, DataFrame](_.unpersist())

  /** d43's per-doc verdict (doc_id, gopher_pass), persisted. */
  private def gopherVerdicts(s: SparkSession, dir: String): DataFrame =
    gopherCache.getOrBuild(s, dir) {
      val v = d43(s, dir).select(col("doc_id"), col("gopher_pass")).persist()
      v.count() // materialize under the builder's monitor
      v
    }

  // ---- d75: classifier calibration curve (reliability diagram) ----
  // The audit that decides whether d38's quality score can gate a
  // corpus: bin the classifier score (width 0.02 — floor(qscore·50),
  // on the 6dp-snapped score so the bin edge can't straddle a ulp)
  // and report, per bin, how often the INDEPENDENT gopher rule-set
  // (d43) passes the same document — the reliability diagram / ECE
  // table every deployed filter ships with. A calibrated score shows
  // pass-rate rising with the bin; a flat curve means the classifier
  // threshold is noise against the rules. Scale shape: both inputs
  // are one-pass gated engines; this is a doc-key join + a
  // ~20-bin-key hash agg (constant domain, map-side collapsed). The
  // universe is the intersection of both engines' domains (d43 scores
  // docs of >= 10 tokens). All integer outputs; SQL-composed oracle.
  private def d75(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = d38(s, dir)
      .select($"doc_id",
        expr("cast(floor(qscore * 50) as bigint)").as("score_bin"))
    scored.join(gopherVerdicts(s, dir), "doc_id")
      .groupBy($"score_bin")
      .agg(count(lit(1)).as("n_docs"),
        sum($"gopher_pass").as("n_pass"))
      .select($"score_bin", $"n_docs", $"n_pass",
        expr("n_pass * 1000000 div n_docs").as("pass_ppm"))
  }
  private lazy val d75Sql =
    "WITH q75 AS (SELECT * FROM (\n" + d38Sql + "\n) q75q),\n" +
      "g75 AS (SELECT * FROM (\n" + d43Sql + "\n) g75q)\n" +
      """SELECT CAST(floor(qscore * 50) AS BIGINT) AS score_bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(gopher_pass) AS BIGINT) AS n_pass,
        |  CAST(SUM(gopher_pass) * 1000000 // COUNT(*) AS BIGINT) AS pass_ppm
        |FROM q75 JOIN g75 USING (doc_id)
        |GROUP BY 1""".stripMargin

  // ---- d76: classifier ranking audit (Mann-Whitney AUC vs gopher) ----
  // d75's calibration sibling: does d38's score RANK good docs above
  // bad ones at all? AUC as the Mann-Whitney statistic against the
  // independent gopher verdict, computed the only way that scales —
  // never a global per-row sort: scores collapse to per-VALUE
  // (pos, neg) counts first (the snapped score domain is bounded by
  // the 6dp grain, not the corpus), and AUC comes from a running-sum
  // window over that value table:
  //   2·AUC·n⁺n⁻ = Σ_v [ 2·n⁺(v)·cumNeg(<v) + n⁺(v)·n⁻(v) ]
  // (the tie term is the midrank correction). Doubling keeps every
  // intermediate an exact BIGINT, so the audit is cross-engine exact
  // with a floor-ppm output.
  private def d76(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"qscore")
      .rowsBetween(Window.unboundedPreceding, -1)
    val byVal = d38(s, dir).select($"doc_id", $"qscore")
      .join(gopherVerdicts(s, dir), "doc_id")
      .groupBy($"qscore")
      .agg(sum($"gopher_pass").as("npos"),
        sum(lit(1L) - $"gopher_pass").as("nneg"))
      .withColumn("cum_neg", coalesce(sum($"nneg").over(w), lit(0L)))
    byVal
      .select(
        sum($"npos").as("n_pos"), sum($"nneg").as("n_neg"),
        sum($"npos" * $"cum_neg" * 2 + $"npos" * $"nneg").as("num2"))
      .select($"n_pos", $"n_neg",
        // single-class guard (ADVICE r13): with no positives or no
        // negatives AUC is undefined — pin the degenerate output to
        // NULL explicitly in BOTH engines rather than relying on each
        // engine's divide-by-zero behavior (Spark non-ANSI nulls,
        // DuckDB // errors), so the audit can't diverge exactly when
        // the corpus is most suspect
        expr("case when n_pos = 0 or n_neg = 0 then cast(null as bigint) " +
          "else num2 * 1000000 div (2 * n_pos * n_neg) end").as("auc_ppm"))
  }
  private lazy val d76Sql =
    "WITH q76 AS (SELECT * FROM (\n" + d38Sql + "\n) q76q),\n" +
      "g76 AS (SELECT * FROM (\n" + d43Sql + "\n) g76q),\n" +
      """bv AS (SELECT qscore,
        |    CAST(SUM(gopher_pass) AS BIGINT) AS npos,
        |    CAST(SUM(1 - gopher_pass) AS BIGINT) AS nneg
        |  FROM q76 JOIN g76 USING (doc_id) GROUP BY 1),
        |cu AS (SELECT qscore, npos, nneg,
        |    CAST(COALESCE(SUM(nneg) OVER (ORDER BY qscore
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_neg
        |  FROM bv),
        |t AS (SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
        |    CAST(SUM(nneg) AS BIGINT) AS n_neg,
        |    CAST(SUM(npos * cum_neg * 2 + npos * nneg) AS BIGINT) AS num2
        |  FROM cu)
        |SELECT n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |    ELSE num2 * 1000000 // (2 * n_pos * n_neg) END AS auc_ppm
        |FROM t""".stripMargin

  // ---- d77: substring-dedup resolution dial curve (L sweep) ----
  // The dial audit for d71/d72's one dial: at which L does exact
  // substring dedup bite, and how much does it charge? For the
  // NESTED resolutions L = 4, 8 (production), 16: duplicated window
  // sites, docs affected, and islands-merged token cover. Because the
  // Ls are nested, a duplicated L-window's sub-windows at L/2 are
  // duplicated too — so sites, docs, and cover are all non-increasing
  // in L (theorems, pinned in DupSpansSpec — the d68/d73
  // nested-widths doctrine applied to the suffix-array method). Each
  // rung is the d71 engine at its L: one hash-agg shuffle + one
  // shuffled join + per-doc windows; all integer outputs. The rungs
  // hash with the PRODUCTION kernel (GramHashesExpr, the d82
  // codegen'd xxhash64) rather than the interpreted md5 HOF: every
  // d77 output (site counts, docs hit, merged token cover) is a
  // function of the gram-hash EQUALITY PATTERN only, and both hashes
  // are collision-free on any realistic corpus slice, so the md5-form
  // SQL oracle still gates the native path bit-for-bit — the d82
  // precedent, which cut the same pipeline ~10×.
  private val dupLs = Seq(4, 8, 16, 32) // nested powers; 8 = production

  /** d82's native gram sites over an already-tokenized frame. */
  private[operators] def gramSitesNativeOfToks(toks: DataFrame, l: Int)
      : DataFrame =
    toks.filter(size(col("toks")) >= l)
      .select(col("doc_id"), posexplode(
        graft.functions.GraftFunctions.gramHashes(col("toks"), l)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("gh"))

  private def d77(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dupLs.map { l =>
      val sites = gramSitesNativeOfToks(tokenizedDocs(s, dir), l)
      val dup = sites.groupBy($"gh").agg(count(lit(1)).as("n"))
        .filter($"n" >= 2).select($"gh")
      val hits = sites.join(dup, "gh").select($"doc_id", $"pos")
      val siteAgg = hits.agg(count(lit(1)).as("n_dup_sites"),
        countDistinct($"doc_id").as("n_docs_hit"))
      val coverAgg = dupSpansOfL(hits, l)
        .agg(coalesce(sum($"span_tokens"), lit(0L)).as("dup_tokens"))
      // 1-row × 1-row scalar attach — the only sanctioned crossJoin
      // shape (two global aggregates of the same rung zipped into one
      // output row; nothing corpus-sized on either side)
      siteAgg.crossJoin(coverAgg)
        .select(lit(l.toLong).as("l"), $"n_dup_sites", $"n_docs_hit",
          $"dup_tokens")
    }.reduce(_.unionAll(_))
  }
  private val d77Sql = {
    def rung(l: Int) = {
      val cat = (1 to l).map(j => s"toks[pos + $j]").mkString(" || ' ' || ")
      s"""SELECT * FROM (WITH t AS (SELECT doc_id,
         |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |  FROM documents WHERE length(trim(text)) > 0),
         |p AS (SELECT doc_id, unnest(generate_series(1, len(toks) - $l + 1)) - 1 AS pos, toks
         |  FROM t WHERE len(toks) >= $l),
         |g AS (SELECT doc_id, pos, md5($cat) AS gh FROM p),
         |d AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
         |h AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gh)),
         |m AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER w IS NULL
         |      OR pos > lag(pos) OVER w + $l THEN 1 ELSE 0 END AS ns
         |  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |sp AS (SELECT doc_id, pos, SUM(ns) OVER
         |    (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m),
         |spans AS (SELECT doc_id, MAX(pos) + $l - MIN(pos) AS span_tokens
         |  FROM sp GROUP BY doc_id, sid)
         |SELECT CAST($l AS BIGINT) AS l,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_dup_sites,
         |  (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM h) AS n_docs_hit,
         |  (SELECT CAST(COALESCE(SUM(span_tokens), 0) AS BIGINT) FROM spans)
         |    AS dup_tokens)""".stripMargin
    }
    dupLs.map(rung).mkString("\nUNION ALL\n")
  }

  // ---- d78: cross-source copy flows (who duplicates whom) ----
  // The provenance diagnostic on top of d72's keeper election: every
  // duplicated L-gram's first corpus occurrence names the ORIGIN
  // source, every later site names a DESTINATION — so the (origin,
  // destination) site counts form the copy-flow matrix a curation
  // review reads to find scraped mirrors, templated feeds, and
  // intra-source boilerplate (the diagonal). Scale shape: the same
  // single gh-key shuffle d72 pays — the origin is elected by the
  // copy-flow ledger's partial-aggregable min-struct (NOT a
  // first_value window, which would funnel a hot gram's sites through
  // one task; VERDICT r13 §wrong 3) and joined back to the sites,
  // which is exactly the probe s43 runs stream-side; the rollup key
  // domain is |sources|² — constant. All integer outputs.
  private def d78(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gramSitesSrc(Tables(s, dir, "documents"))
      .join(copyFlowLedger(s, dir), "gh")
      .filter(!($"doc_id" === $"kdoc" && $"pos" === $"kpos"))
      .groupBy($"src_from", $"source".as("src_to"))
      .agg(count(lit(1)).as("n_sites"),
        countDistinct($"doc_id").as("n_docs"))
  }
  private[operators] val d78Sql =
    s"""WITH $dupGramCte,
       |sited AS (SELECT g.doc_id, g.pos, g.gh, d.source FROM g
       |  JOIN documents d ON g.doc_id = d.doc_id),
       |r AS (SELECT doc_id, source,
       |    row_number() OVER w AS rn,
       |    first_value(source) OVER w AS src_from
       |  FROM sited WINDOW w AS (PARTITION BY gh ORDER BY doc_id, pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
       |SELECT src_from, source AS src_to,
       |  CAST(COUNT(*) AS BIGINT) AS n_sites,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM r WHERE rn >= 2 GROUP BY 1, 2""".stripMargin

  // ---- d79: curation manifest v4 (dedup-aware sampling weights) ----
  // The manifest ladder's fourth rung: v3's three contamination
  // screens unchanged, but the E-S sampling weight becomes the doc's
  // CLEAN token count (d72's scrub ledger) instead of its raw length
  // — so a doc whose mass is substring-duplicated boilerplate
  // competes with the weight of its unique content only, and a FULLY
  // duplicated doc (clean = 0) leaves the pool entirely. This is the
  // practice point of exact substring dedup: sampling by unique mass,
  // not raw mass. Every stage stays an independently gated engine;
  // the composed oracle joins d72's SQL into the sv weight CTE. Docs
  // below the gram resolution (< 8 tokens) carry their raw length —
  // they have no measurable duplication by construction.
  private def d79(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the dedup-aware weight (d72's clean count, raw length below the
    // gram resolution) is a report column — the whole manifest is one
    // report read + the bounded-heap top-k
    manifestSampleWeighted(screenReport(s, dir)
      .filter($"flag_fuzzy" === 0L && $"flag_bloom" === 0L &&
        $"flag_semantic" === 0L)
      .select($"source", $"doc_id",
        coalesce($"clean_tokens", $"n_toks").as("w"))
      .filter($"w" > 0))
  }
  private lazy val d79Sql =
    s"WITH ${screenCtesSql(semCteSql)},\n" +
      "scrub AS (SELECT * FROM (\n" + d72Sql + "\n) scrubq),\n" +
      s"""  sv AS (SELECT t0.source, t0.doc_id,
         |      CAST(COALESCE(sc.clean_tokens, len(t0.toks)) AS BIGINT) AS w
         |    FROM t0 LEFT JOIN scrub sc ON t0.doc_id = sc.doc_id
         |    WHERE t0.doc_id >= $fuzzyEvalN
         |      AND t0.doc_id NOT IN (SELECT doc_id FROM fz)
         |      AND t0.doc_id NOT IN (SELECT doc_id FROM bd)
         |      AND t0.doc_id NOT IN (SELECT doc_id FROM sem)
         |      AND COALESCE(sc.clean_tokens, len(t0.toks)) > 0),
         |  p AS (SELECT source, doc_id,
         |      CAST(floor(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
         |          || ':ws'), 1, 6) AS INT) + 0.5e0) / 16777216.0e0)
         |        / w * 1e6 + 0.5) AS BIGINT) AS prio
         |    FROM sv),
         |  r AS (SELECT source, doc_id, prio,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY prio DESC, doc_id) AS rn
         |    FROM p)
         |SELECT source, CAST(rn AS BIGINT) AS rank, doc_id,
         |  prio AS prio_micro
         |FROM r WHERE rn <= $curK""".stripMargin

  // ---- d80: Zipf slope fit over the ranked term distribution ----
  // The corpus-statistics audit next to d32 (vocab growth) and d52
  // (token gini): least-squares slope of ln(freq) against ln(rank)
  // over the top-R terms — the Zipf exponent a language-likeness /
  // synthetic-data screen reads (natural corpora sit near -1; flat
  // slopes flag templated or shuffled text). Scale shape: one
  // tokenize pass → vocabulary-bounded term counts (the d55 key
  // domain) → bounded top-R gather via ordered aggregation — the
  // regression folds run over a list ORDERED BY RANK on both engines
  // (DuckDB list(… ORDER BY), Spark sort_array∘collect_list), so
  // every sum is an index-order fold and the only cross-engine
  // freedom is ln()'s ulp, absorbed by the micro snap (the manifest
  // prio precedent). R = 64 keeps the driver row bounded and the fit
  // in Zipf's head where the law holds.
  private val zipfR = 64

  private def d80(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // top-R via orderBy().limit() — Catalyst plans TakeOrderedAndProject
    // (per-partition top-R heaps, driver merge of R rows), NOT a global
    // no-partition rank window, which would total-sort the entire
    // vocabulary through ONE task (the r14-verdict d80 finding). Ranks
    // are assigned locally on the <= R surviving rows by an index
    // transform over the (cnt desc, term) sorted array — same
    // (r, cnt) points, no Window node anywhere in the plan.
    val top = termCountsAgg(Tables(s, dir, "documents"))
      .orderBy($"cnt".desc, $"term")
      .limit(zipfR)
    top
      .select(array_sort(collect_list(
        struct((-$"cnt").as("nc"), $"term", $"cnt"))).as("raw"))
      .select(expr(
        "transform(raw, (p, i) -> struct(i + 1 AS r, p.cnt AS cnt))")
        .as("pts"))
      .select(
        // n is the ACTUAL point count — the head may be shorter than
        // R when the vocabulary is (a literal R here once produced a
        // garbage slope on a 31-term vocabulary)
        expr("cast(size(pts) as double)").as("n"),
        expr(s"aggregate(pts, cast(0.0 as double), (a, p) -> a + ln(p.r))").as("sx"),
        expr(s"aggregate(pts, cast(0.0 as double), (a, p) -> a + ln(p.cnt))").as("sy"),
        expr(s"aggregate(pts, cast(0.0 as double), (a, p) -> a + ln(p.r) * ln(p.cnt))").as("sxy"),
        expr(s"aggregate(pts, cast(0.0 as double), (a, p) -> a + ln(p.r) * ln(p.r))").as("sxx"))
      .select(
        expr("cast(n as bigint)").as("r_terms"),
        expr("cast(floor((n * sxy - sx * sy) / (n * sxx - sx * sx) " +
          "* 1e6 + 0.5) as bigint)").as("slope_micro"),
        expr("cast(floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) " +
          "/ n * 1e6 + 0.5) as bigint)").as("intercept_micro"))
  }
  private val d80Sql =
    s"""WITH tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(lower(trim(
       |      regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
       |    FROM documents WHERE length(trim(text)) > 0) GROUP BY 1),
       |rk AS (SELECT term, cnt,
       |    row_number() OVER (ORDER BY cnt DESC, term) AS r
       |  FROM tc QUALIFY r <= $zipfR),
       |pts AS (SELECT list(ln(r) ORDER BY r) AS lx,
       |    list(ln(cnt) ORDER BY r) AS ly FROM rk),
       |sums AS (SELECT
       |    CAST(len(lx) AS DOUBLE) AS n,
       |    list_reduce(lx, (a, v) -> a + v) AS sx,
       |    list_reduce(ly, (a, v) -> a + v) AS sy,
       |    list_reduce(list_transform(generate_series(1, len(lx)),
       |      i -> lx[i] * ly[i]), (a, v) -> a + v) AS sxy,
       |    list_reduce(list_transform(lx, v -> v * v), (a, v) -> a + v) AS sxx
       |  FROM pts)
       |SELECT CAST(n AS BIGINT) AS r_terms,
       |  CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
       |    * 1e6 + 0.5) AS BIGINT) AS slope_micro,
       |  CAST(floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx)
       |    * sx) / n * 1e6 + 0.5) AS BIGINT) AS intercept_micro
       |FROM sums""".stripMargin

  // ---- d81: per-source Zipf slopes (the slice-level d80) ----
  // The deployment form of the language-likeness audit: corpora are
  // screened per SLICE, and a source whose slope sits far from its
  // peers is templated, shuffled, or machine-generated. Same
  // determinism discipline as d80 — rank-ordered list folds per
  // source, actual head size in the fit — with the (source, term)
  // count table d67's fertility audit already uses as the only
  // corpus-sized stage (vocabulary-bounded keys per source).
  private def d81(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // per-source top-R with the d41 salted-shard discipline: a first
    // window partitioned by (source, term-hash shard) prunes to the
    // top R per shard — partitions are vocab/S sized — and only the
    // <= S*R survivors per source meet the final bounded window (a
    // bare PARTITION BY source rank would serialize each source's
    // whole vocabulary through one task — the r14-verdict d81
    // finding). Per-source top-R is a subset of the union of shard
    // top-Rs, so the prune is exact; the shard hash never leaves the
    // plan.
    val wShard = Window
      .partitionBy($"source", pmod(hash($"term"), lit(loShards)))
      .orderBy($"cnt".desc, $"term")
    val wFinal = Window.partitionBy($"source").orderBy($"cnt".desc, $"term")
    val sums = bpeSourceTermCounts(Tables(s, dir, "documents"))
      .withColumn("srn", row_number().over(wShard))
      .filter($"srn" <= zipfR).drop("srn")
      .withColumn("r", row_number().over(wFinal))
      .filter($"r" <= zipfR)
      .groupBy($"source")
      .agg(sort_array(collect_list(struct($"r", $"cnt"))).as("pts"))
      .select($"source",
        expr("cast(size(pts) as double)").as("n"),
        expr("aggregate(pts, cast(0.0 as double), (a, p) -> a + ln(p.r))").as("sx"),
        expr("aggregate(pts, cast(0.0 as double), (a, p) -> a + ln(p.cnt))").as("sy"),
        expr("aggregate(pts, cast(0.0 as double), (a, p) -> a + ln(p.r) * ln(p.cnt))").as("sxy"),
        expr("aggregate(pts, cast(0.0 as double), (a, p) -> a + ln(p.r) * ln(p.r))").as("sxx"))
    sums.select($"source",
      expr("cast(n as bigint)").as("r_terms"),
      expr("cast(floor((n * sxy - sx * sy) / (n * sxx - sx * sx) " +
        "* 1e6 + 0.5) as bigint)").as("slope_micro"))
  }
  private val d81Sql =
    s"""WITH tc AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT source, unnest(string_split(lower(trim(
       |      regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
       |    FROM documents WHERE length(trim(text)) > 0) GROUP BY 1, 2),
       |rk AS (SELECT source, term, cnt,
       |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS r
       |  FROM tc QUALIFY r <= $zipfR),
       |pts AS (SELECT source, list(ln(r) ORDER BY r) AS lx,
       |    list(ln(cnt) ORDER BY r) AS ly FROM rk GROUP BY 1),
       |sums AS (SELECT source,
       |    CAST(len(lx) AS DOUBLE) AS n,
       |    list_reduce(lx, (a, v) -> a + v) AS sx,
       |    list_reduce(ly, (a, v) -> a + v) AS sy,
       |    list_reduce(list_transform(generate_series(1, len(lx)),
       |      i -> lx[i] * ly[i]), (a, v) -> a + v) AS sxy,
       |    list_reduce(list_transform(lx, v -> v * v), (a, v) -> a + v) AS sxx
       |  FROM pts)
       |SELECT source, CAST(n AS BIGINT) AS r_terms,
       |  CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
       |    * 1e6 + 0.5) AS BIGINT) AS slope_micro
       |FROM sums""".stripMargin

  // ---- d82: exact substring dedup, production hash (native kernel) --
  // The d06-vs-d10 pairing applied to the suffix-array method: d71's
  // pipeline with the interpreted md5-HOF gram hashing replaced by
  // ONE codegen'd Catalyst expression (GramHashesExpr — xxhash64 per
  // positioned window over a reusable byte buffer, no per-gram string
  // materialization). Spans depend only on the EQUALITY PATTERN of
  // gram hashes, and both hashes are collision-free on any realistic
  // corpus slice (64-bit over ≤ millions of grams), so the output is
  // value-identical to d71 — giving the native path d71's full SQL
  // oracle rather than a golden (DupSpansSpec additionally pins
  // d82 ≡ d71 frame equality and the kernel ≡ HOF-md5 pattern
  // equivalence is implied by the shared oracle).
  private def d82(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sites = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= dupL)
      .select($"doc_id", posexplode(
        graft.functions.GraftFunctions.gramHashes($"toks", dupL)))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"col".as("gh"))
    val dup = sites.groupBy($"gh").agg(count(lit(1)).as("n"))
      .filter($"n" >= 2).select($"gh")
    dupSpansOf(sites.join(dup, "gh").select($"doc_id", $"pos"))
  }

  // ---- d83: substring-dedup APPLY (the scrubbed corpus itself) ----
  // The deliverable the d71→d72 ladder exists for: every doc re-
  // emitted with its REMOVABLE spans (non-first occurrences, keeper
  // semantics) cut out — keeper copies keep their text, later copies
  // lose exactly the duplicated runs, and a fully-duplicated doc
  // collapses to empty. Docs below the gram resolution pass through
  // whole. The reconstruction is one HOF projection per doc (filter
  // positions outside the span set, re-join tokens) against the
  // span list collected per doc — bounded per-doc state, the same
  // gh-shuffle cost as d72, nothing new at scale. Output carries the
  // scrubbed text as md5 (the d33 emitted-corpus convention) plus
  // the kept-token ledger, so the whole apply is cross-engine exact.
  private def d83(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sites = gramSites(Tables(s, dir, "documents"))
    val spansByDoc = dupSpansOf(removableSites(sites))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct(
        $"span_start".as("a"), $"span_end".as("b")))).as("spans"))
    Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextOps.tokensOnce($"text").as("toks"))
      .join(spansByDoc, Seq("doc_id"), "left")
      .withColumn("spans", coalesce($"spans",
        expr("cast(array() as array<struct<a: bigint, b: bigint>>)")))
      .withColumn("kept", expr(
        "filter(sequence(0, size(toks) - 1), p -> " +
          "NOT exists(spans, s -> p >= s.a AND p < s.b))"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        size($"kept").cast("long").as("kept_tokens"),
        md5(concat_ws(" ",
          expr("transform(kept, p -> toks[p])")).cast("binary"))
          .as("clean_md5"))
  }
  private val d83Sql =
    s"""WITH $dupGramCte,
       |r AS (SELECT doc_id, pos, row_number() OVER
       |    (PARTITION BY gh ORDER BY doc_id, pos) AS rn FROM g),
       |h AS (SELECT doc_id, pos FROM r WHERE rn >= 2),
       |$dupIslandsSql,
       |spans AS (SELECT doc_id, MIN(pos) AS a, MAX(pos) + $dupL AS b
       |  FROM sp GROUP BY doc_id, sid),
       |pos AS (SELECT doc_id, unnest(generate_series(1, len(toks))) - 1 AS p,
       |    toks FROM t),
       |cov AS (SELECT DISTINCT pos.doc_id, pos.p FROM pos
       |  JOIN spans s ON pos.doc_id = s.doc_id
       |    AND pos.p >= s.a AND pos.p < s.b),
       |kept AS (SELECT pos.doc_id, pos.p, pos.toks[pos.p + 1] AS tok
       |  FROM pos LEFT JOIN cov
       |    ON pos.doc_id = cov.doc_id AND pos.p = cov.p
       |  WHERE cov.p IS NULL),
       |out AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
       |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_md5
       |  FROM kept GROUP BY 1)
       |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  COALESCE(out.kept_tokens, 0) AS kept_tokens,
       |  COALESCE(out.clean_md5, md5('')) AS clean_md5
       |FROM t LEFT JOIN out ON t.doc_id = out.doc_id""".stripMargin

  // ---- d84: entropy screen + planted-secret detector ----
  // Two character-statistics audits curation pipelines run before
  // training, in ONE map-only projection (the d38/d43 shape — zero
  // shuffles, pipelineable into any scan at 100 TB):
  //  * per-doc Shannon entropy of the character and token
  //    distributions — the garbage/templated-text dial (natural prose
  //    sits ~4 bits/char; near-0 means repeated filler, near-log2(V)
  //    means shuffled/random junk), the screen that catches what
  //    d13's repetition ratio and d43's gopher battery miss when the
  //    repetition has no aligned n-gram structure;
  //  * a credential/secret detector: long base64-charset tokens
  //    (>=16 chars, letters+digits) whose CHAR entropy clears
  //    3.5 bits — the standard high-entropy-string rule secret
  //    scanners apply before a corpus ships. The fixture corpus
  //    plants none (all counters legitimately 0 — cross-engine
  //    checked as 0), so the detection arm is additionally proven on
  //    planted keys in EntropyScreenSpec.
  //
  // Exactness: counts are integers (length-difference per alphabet
  // char — no char-level explode, no per-doc groupBy); the only float
  // work is Σ n·ln(n) folded in the FIXED literal alphabet order on
  // both engines (identical IEEE op order; Spark's 0.0-seeded fold
  // equals DuckDB's first-element-seeded fold because 0.0 + x is
  // exact), token folds run over the SORTED distinct-token list, and
  // every entropy is micro-snapped floor-form before output or
  // threshold compare.
  private val entAlphabet: Seq[Char] =
    ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ " +/=_-.,:;!?".toSeq
  private val entThresholdMicro = 3500000L // 3.5 bits
  private def entArr(quoteList: Seq[String] => String): String =
    quoteList(entAlphabet.map(c => s"'$c'"))
  private val entArrDuck = entArr(l => s"[${l.mkString(",")}]")
  // the Spark side counts the alphabet in ONE byte-scan pass via the
  // native graft_char_counts kernel (CharCountsExpr) — the composed
  // transform/replace form re-scanned + re-allocated the string once
  // per alphabet char (74×/doc), 5-6× the whole screen's cost at
  // sf0.1. The counts are value-identical (asserted char-by-char in
  // CharCountsSpec, incl. multibyte text), so the DECIMAL/fold
  // exactness story and the DuckDB oracles are untouched.
  private val entAlphabetSql = entAlphabet.mkString // no quotes/backslashes
  private def charCountsSpark(sv: String): String =
    s"graft_char_counts($sv, '$entAlphabetSql')"

  /** Per-token char-entropy micro-bits over the fixed alphabet —
    * candidate tokens are charset-filtered into the alphabet, so no
    * residual class is needed. `tv` is the lambda variable holding
    * the token. */
  private def tokBitsSpark(tv: String): String =
    s"cast(floor((ln(length($tv)) - aggregate(${charCountsSpark(tv)}, " +
      s"cast(0.0 as double), (a, n) -> a + n * ln(greatest(n, 1))) " +
      s"/ length($tv)) / ln(2.0) * 1e6 + 0.5) as bigint)"
  private def tokBitsDuck(tv: String): String =
    s"CAST(floor((ln(length($tv)) - list_reduce(list_transform(" +
      s"list_transform($entArrDuck, c -> length($tv) - " +
      s"length(replace($tv, c, ''))), n -> n * ln(greatest(n, 1))), " +
      s"(a, x) -> a + x) / length($tv)) / ln(2.0) * 1e6 + 0.5) AS BIGINT)"

  /** The stateless d84 transform — column ops only, so the same tree
    * runs over a batch scan or a document readStream (s45, the
    * s11/s13 pattern). Input needs (doc_id, text). */
  private[operators] def entropyScreen(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"), TextOps.tokensOnce(col("text")).as("toks"))
      .withColumn("ccnts", expr(charCountsSpark("text")))
      .withColumn("cother", expr(
        "length(text) - aggregate(ccnts, cast(0 as bigint), (a, n) -> a + n)"))
      .withColumn("char_entropy_micro", expr(
        "cast(floor((ln(length(text)) - (aggregate(ccnts, cast(0.0 as double), " +
          "(a, n) -> a + n * ln(greatest(n, 1))) + cother * ln(greatest(cother, 1))) " +
          "/ length(text)) / ln(2.0) * 1e6 + 0.5) as bigint)"))
      // token counts as run-lengths over the SORTED token array —
      // O(n log n) per doc, where a count-by-filter over the distinct
      // list is O(distinct × tokens) (quadratic on long high-diversity
      // docs, the r15-advice finding). Run boundaries of the sorted
      // array enumerate distinct tokens in sorted order, so the fold
      // below consumes the exact count sequence the oracle's
      // sorted-distinct transform produces — bit-identical entropy.
      .withColumn("st", expr("array_sort(toks)"))
      .withColumn("bidx", expr(
        "filter(sequence(0, size(st) - 1), i -> i = 0 OR st[i] != st[i - 1])"))
      .withColumn("tcnts", expr(
        "zip_with(bidx, concat(slice(bidx, 2, size(bidx)), array(size(st))), " +
          "(a, b) -> b - a)"))
      .withColumn("token_entropy_micro", expr(
        "cast(floor((ln(size(toks)) - aggregate(tcnts, cast(0.0 as double), " +
          "(a, n) -> a + n * ln(n)) / size(toks)) / ln(2.0) * 1e6 + 0.5) as bigint)"))
      .withColumn("cands", expr(
        "filter(split(trim(text), '\\\\s+'), t -> length(t) >= 16 " +
          "AND t rlike '^[A-Za-z0-9+/=_-]+$' AND t rlike '[0-9]' " +
          "AND t rlike '[A-Za-z]')"))
      .withColumn("cand_micro", expr(
        s"transform(cands, t -> ${tokBitsSpark("t")})"))
      .select(col("doc_id"), col("char_entropy_micro"), col("token_entropy_micro"),
        size(col("cands")).cast("long").as("n_candidates"),
        size(expr(s"filter(cand_micro, m -> m >= $entThresholdMicro)"))
          .cast("long").as("n_flagged"),
        expr("CASE WHEN size(cands) = 0 THEN -1 ELSE array_max(cand_micro) END")
          .cast("long").as("max_candidate_micro"))

  private def d84(s: SparkSession, dir: String): DataFrame =
    entropyScreen(Tables(s, dir, "documents"))
  private[operators] lazy val d84Sql =
    s"""WITH t AS (SELECT doc_id, text,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |c AS (SELECT doc_id, text, toks,
       |    list_transform($entArrDuck,
       |      c -> length(text) - length(replace(text, c, ''))) AS ccnts,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |      t -> length(t) >= 16
       |        AND regexp_full_match(t, '[A-Za-z0-9+/=_-]+')
       |        AND regexp_matches(t, '[0-9]')
       |        AND regexp_matches(t, '[A-Za-z]')) AS cands
       |  FROM t),
       |c2 AS (SELECT *,
       |    length(text) - list_reduce(ccnts, (a, n) -> a + n) AS cother,
       |    list_transform(list_sort(list_distinct(toks)),
       |      c -> len(list_filter(toks, t -> t = c))) AS tcnts,
       |    list_transform(cands, t -> ${tokBitsDuck("t")}) AS cand_micro
       |  FROM c)
       |SELECT doc_id,
       |  CAST(floor((ln(length(text)) - (list_reduce(list_transform(ccnts,
       |      n -> n * ln(greatest(n, 1))), (a, x) -> a + x)
       |      + cother * ln(greatest(cother, 1))) / length(text))
       |    / ln(2.0) * 1e6 + 0.5) AS BIGINT) AS char_entropy_micro,
       |  CAST(floor((ln(len(toks)) - list_reduce(list_transform(tcnts,
       |      n -> n * ln(n)), (a, x) -> a + x) / len(toks))
       |    / ln(2.0) * 1e6 + 0.5) AS BIGINT) AS token_entropy_micro,
       |  CAST(len(cands) AS BIGINT) AS n_candidates,
       |  CAST(len(list_filter(cand_micro, m -> m >= $entThresholdMicro))
       |    AS BIGINT) AS n_flagged,
       |  CAST(CASE WHEN len(cands) = 0 THEN -1 ELSE list_max(cand_micro) END
       |    AS BIGINT) AS max_candidate_micro
       |FROM c2""".stripMargin

  // ---- d87: secret REDACTION apply (the d84 screen's apply leg) ----
  // d84 counts; this emits — the screen→apply pairing the suite uses
  // everywhere (d23/d33, d25/d27, d82/d83): the corpus AFTER secret
  // scrubbing, with every flagged token (d84's exact rule — length,
  // charset, letters+digits, char entropy >= 3.5 bits) replaced by a
  // fixed '[REDACTED]' sentinel, whitespace canonicalized to single
  // spaces (both engines tokenize on \s+ and re-join with ' ', so the
  // emitted bytes are defined, not incidental). Still ONE map-only
  // projection (the d38/d84 discipline). The fixture plants no
  // secrets, so every fixture doc round-trips with n_redacted = 0 and
  // the md5 gates the CANONICALIZED BYTES cross-engine (non-vacuous);
  // the redaction arm itself is proven on planted keys in
  // EntropyScreenSpec.
  private val candShapeSpark =
    "length(t) >= 16 AND t rlike '^[A-Za-z0-9+/=_-]+$' " +
      "AND t rlike '[0-9]' AND t rlike '[A-Za-z]'"
  private lazy val flagPredSpark =
    s"$candShapeSpark AND ${tokBitsSpark("t")} >= $entThresholdMicro"
  private val candShapeDuck =
    "length(t) >= 16 AND regexp_full_match(t, '[A-Za-z0-9+/=_-]+') " +
      "AND regexp_matches(t, '[0-9]') AND regexp_matches(t, '[A-Za-z]')"
  private lazy val flagPredDuck =
    s"$candShapeDuck AND ${tokBitsDuck("t")} >= $entThresholdMicro"

  /** The scrub column chain WITHOUT the output projection — appends
    * ws/scrubbed/n_redacted, the d89 fusion seam. */
  private[operators] def scrubCols(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", expr("split(trim(text), '\\\\s+')"))
      .withColumn("scrubbed", expr(
        "array_join(transform(ws, t -> CASE WHEN " + flagPredSpark +
          " THEN '[REDACTED]' ELSE t END), ' ')"))
      .withColumn("n_redacted",
        size(expr(s"filter(ws, t -> $flagPredSpark)")).cast("long"))

  /** The stateless d87 transform — column ops only, so the same tree
    * runs batch or streamed (s49). Keeps `scrubbed` for the spec. */
  private[graft] def secretScrub(docs: DataFrame): DataFrame =
    scrubCols(docs.filter(length(trim(col("text"))) > 0))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        col("n_redacted"),
        length(col("scrubbed")).cast("long").as("scrubbed_len"),
        md5(col("scrubbed").cast("binary")).as("scrubbed_md5"),
        col("scrubbed"))

  private def d87(s: SparkSession, dir: String): DataFrame =
    secretScrub(Tables(s, dir, "documents")).drop("scrubbed")
  private[operators] lazy val d87Sql =
    s"""WITH w AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents WHERE length(trim(text)) > 0),
       |sc AS (SELECT doc_id, ws,
       |    array_to_string(list_transform(ws, t -> CASE WHEN $flagPredDuck
       |      THEN '[REDACTED]' ELSE t END), ' ') AS scrubbed
       |  FROM w)
       |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(ws, t -> $flagPredDuck)) AS BIGINT)
       |    AS n_redacted,
       |  CAST(length(scrubbed) AS BIGINT) AS scrubbed_len,
       |  md5(scrubbed) AS scrubbed_md5
       |FROM sc""".stripMargin

  // ---- d89: per-source ingest funnel report (d90+d85+d87 rollup) ----
  // The dashboard row a 100 TB crawl ingest emits per source per
  // batch: pages seen → unique canonical URLs (d90 — the first stage
  // every crawl runs) → pages with extractable main content (d85) →
  // docs/tokens redacted by the secret screen (d87) → extracted
  // character mass. Scale shape: the URL canonicalization, extraction
  // and scrub column chains all FUSE into one map-only projection of
  // one documents scan (no doc_id joins between parallel projections
  // of the same corpus), then one |sources|-key hash agg (the unique-
  // URL count rides the same agg as a distinct — Catalyst's Expand,
  // still one scan and map-side partials on (source, canon)). The
  // oracle composes the d90, d85 and d87 CTE chains into one rollup.
  private def d89(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // URL + extraction + scrub columns FUSED into one projection of
    // one scan (syntheticPages carries source/text through, so all
    // three column chains stack) — no doc_id joins between parallel
    // projections of the same corpus; the only shuffle is the
    // bounded sources-key agg
    val fused = scrubCols(htmlExtractCols(urlCanonCols(
      syntheticPages(Tables(s, dir, "documents"))
        .withColumn("url", expr(urlVariantSparkSql)))))
    fused.groupBy($"source")
      .agg(count(lit(1)).as("n_pages"),
        countDistinct($"canon").as("n_urls_unique"),
        sum((size($"kept") >= 1).cast("long")).as("n_extracted"),
        sum(($"n_redacted" >= 1).cast("long")).as("n_docs_redacted"),
        sum($"n_redacted").as("n_tokens_redacted"),
        sum(length($"main")).cast("long").as("extracted_chars"))
  }
  private[operators] lazy val d89Sql =
    s"""WITH $d85CtePrefix,
       |$urlCanonCteSql,
       |w89 AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents WHERE length(trim(text)) > 0),
       |sc89 AS (SELECT doc_id,
       |    len(list_filter(ws, t -> $flagPredDuck)) AS n_redacted
       |  FROM w89),
       |src AS (SELECT doc_id, source FROM documents
       |  WHERE length(trim(text)) > 0)
       |SELECT src.source, CAST(COUNT(*) AS BIGINT) AS n_pages,
       |  CAST(COUNT(DISTINCT cu.canon_url) AS BIGINT) AS n_urls_unique,
       |  CAST(SUM(CASE WHEN len(kept) >= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_extracted,
       |  CAST(SUM(CASE WHEN n_redacted >= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_redacted,
       |  CAST(SUM(n_redacted) AS BIGINT) AS n_tokens_redacted,
       |  CAST(SUM(length(main)) AS BIGINT) AS extracted_chars
       |FROM src JOIN m ON src.doc_id = m.doc_id
       |JOIN sc89 ON src.doc_id = sc89.doc_id
       |JOIN cu ON src.doc_id = cu.doc_id
       |GROUP BY 1""".stripMargin

  // ---- d90: URL canonicalization + URL-level dedup ----
  // The crawl step UPSTREAM of d85 that every real ingest runs before
  // any text screen: the same page arrives under scheme/host case
  // variants, default ports, fragments and tracking-param noise, and
  // fetching (or keeping) each spelling multiplies every downstream
  // stage's cost. Canonicalize (lowercase scheme+host, strip fragment,
  // strip default :443/:80, strip a leading www., drop tracking params
  // keeping real ones, strip one trailing slash off non-root paths),
  // then dedup EXACTLY on the canonical form with d01's min-id keeper
  // election — as a partial-aggregable canon-key agg + join back (the
  // d34/gh rule: a mirror URL duplicated millions of times collapses
  // to one row per mapper, never a window partition). Scale shape: one
  // map-only canonicalization a crawl scan pipelines + one canon-key
  // shuffle. All ops are pure integer/string arithmetic with identical
  // Spark/DuckDB semantics, so the rung is hash-gated end to end.
  //
  // The fixture corpus carries no URLs, so they are SYNTHESIZED
  // deterministically (the d85 synthetic-page doctrine applied to
  // addresses). The host carries the doc's source and sources cycle
  // doc_id % 20, so an article group must sit WITHIN one source:
  // article id = doc_id div 80, variant = (doc_id div 20) % 4 — docs
  // {k, k+20, k+40, k+60} share a source and an article. The four
  // variants: clean form with a trailing slash, SHOUTING scheme/host
  // with default port + fragment, utm-tracking noise unique per doc,
  // and a doc with a REAL query param (?id=) under http:80. Variants
  // 0-2 canonicalize to ONE URL (3 collisions per full group),
  // variant 3 stays distinct — real survivors and real dups at every
  // SF (at sf0.001 each source holds 2-3 group-0 variants, still
  // colliding).
  private[operators] val urlVariantSparkSql =
    "CASE CAST((doc_id DIV 20) % 4 AS INT) " +
      "WHEN 0 THEN concat('https://www.', source, '.example.com/articles/', CAST(doc_id DIV 80 AS STRING), '/') " +
      "WHEN 1 THEN concat('HTTPS://', upper(concat('www.', source, '.example.com')), ':443/articles/', CAST(doc_id DIV 80 AS STRING), '#sec-2') " +
      "WHEN 2 THEN concat('https://www.', source, '.example.com/articles/', CAST(doc_id DIV 80 AS STRING), '?utm_source=feed&utm_campaign=c', CAST(doc_id AS STRING)) " +
      "ELSE concat('http://www.', source, '.example.com:80/articles/', CAST(doc_id DIV 80 AS STRING), '?id=', CAST(doc_id % 7 AS STRING), '&utm_medium=social') END"

  /** Deterministic crawl URLs for every nonempty fixture doc. */
  private[graft] def syntheticUrls(docs: DataFrame): DataFrame =
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        expr(urlVariantSparkSql).as("url"))

  /** Appends `canon` to a frame carrying `url` — one map-only column
    * chain (tracking-param keys are matched by exact prefix compare,
    * never LIKE, whose `_` wildcard would also match `utmX`). */
  private[operators] def urlCanonCols(withUrl: DataFrame): DataFrame =
    withUrl
      .withColumn("u_nofrag", expr("split_part(url, '#', 1)"))
      .withColumn("u_scheme", expr("lower(split_part(u_nofrag, '://', 1))"))
      .withColumn("u_rest", expr("substr(u_nofrag, length(u_scheme) + 4)"))
      .withColumn("u_authraw", expr("split_part(u_rest, '/', 1)"))
      .withColumn("u_pathq", expr("substr(u_rest, length(u_authraw) + 1)"))
      .withColumn("u_auth", expr(
        "CASE WHEN u_scheme = 'https' AND lower(u_authraw) LIKE '%:443' " +
          "THEN left(lower(u_authraw), length(u_authraw) - 4) " +
          "WHEN u_scheme = 'http' AND lower(u_authraw) LIKE '%:80' " +
          "THEN left(lower(u_authraw), length(u_authraw) - 3) " +
          "ELSE lower(u_authraw) END"))
      .withColumn("u_auth", expr(
        "CASE WHEN u_auth LIKE 'www.%' THEN substr(u_auth, 5) " +
          "ELSE u_auth END"))
      .withColumn("u_path", expr("split_part(u_pathq, '?', 1)"))
      .withColumn("u_qs", expr(
        "CASE WHEN position('?' IN u_pathq) > 0 " +
          "THEN substr(u_pathq, length(u_path) + 2) ELSE '' END"))
      .withColumn("u_qkeep", expr(
        "array_join(filter(split(u_qs, '&'), kv -> NOT (" +
          "split_part(kv, '=', 1) IN ('fbclid', 'gclid', 'ref') OR " +
          "substr(split_part(kv, '=', 1), 1, 4) = 'utm_')), '&')"))
      .withColumn("canon", expr(
        "concat(u_scheme, '://', u_auth, " +
          "CASE WHEN length(u_path) > 1 AND u_path LIKE '%/' " +
          "THEN left(u_path, length(u_path) - 1) ELSE u_path END, " +
          "CASE WHEN u_qkeep <> '' THEN concat('?', u_qkeep) " +
          "ELSE '' END)"))
      // the coalesce never fires (every input above is non-null by
      // construction) — it exists to make `canon` NON-NULLABLE, which
      // stops join-key isnotnull inference from pushing a copy of the
      // whole 13-step chain into a pre-projection Filter: Catalyst
      // substitutes projections into pushed predicates without CSE, so
      // the inlined isnotnull(canon) condition re-evaluated the chain's
      // shared steps multiplicatively — measured 4-5x the entire d90
      // cost at sf0.1 (VERDICT r17 next 6)
      .withColumn("canon", coalesce(col("canon"), lit("")))

  private def d90(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urls = urlCanonCols(syntheticUrls(Tables(s, dir, "documents")))
      .select($"doc_id", $"canon".as("canon_url"))
    val keepers = urls.groupBy($"canon_url")
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_variants"))
    // the urls frame is corpus-proportional (one row per doc), and
    // without the hint Catalyst picked BuildLeft — broadcasting the
    // CORPUS side of the join (driver OOM at real scale). Merge hint =
    // the ledger discipline's shuffled shape.
    urls.join(keepers.hint("merge"), "canon_url")
      .select($"doc_id", $"canon_url", $"n_variants", $"keeper",
        when($"doc_id" === $"keeper", lit("keeper")).otherwise(lit("dup"))
          .as("status"))
  }
  /** The synth + canonicalization chain as DuckDB CTEs ending at
    * `cu(doc_id, source, canon_url)` — shared by d90's oracle and the
    * d89 funnel's unique-URL stage. */
  private[operators] val urlCanonCteSql =
    """u0 AS (SELECT doc_id, source,
      |    CASE CAST((doc_id // 20) % 4 AS INT)
      |      WHEN 0 THEN 'https://www.' || source || '.example.com/articles/' || CAST(doc_id // 80 AS VARCHAR) || '/'
      |      WHEN 1 THEN 'HTTPS://' || upper('www.' || source || '.example.com') || ':443/articles/' || CAST(doc_id // 80 AS VARCHAR) || '#sec-2'
      |      WHEN 2 THEN 'https://www.' || source || '.example.com/articles/' || CAST(doc_id // 80 AS VARCHAR) || '?utm_source=feed&utm_campaign=c' || CAST(doc_id AS VARCHAR)
      |      ELSE 'http://www.' || source || '.example.com:80/articles/' || CAST(doc_id // 80 AS VARCHAR) || '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_medium=social'
      |    END AS url
      |  FROM documents WHERE length(trim(text)) > 0),
      |c1 AS (SELECT doc_id, source, split_part(url, '#', 1) AS nofrag FROM u0),
      |c2 AS (SELECT doc_id, source, nofrag,
      |    lower(split_part(nofrag, '://', 1)) AS scheme,
      |    substr(nofrag, length(split_part(nofrag, '://', 1)) + 4) AS rest
      |  FROM c1),
      |c3 AS (SELECT doc_id, source, scheme,
      |    split_part(rest, '/', 1) AS authraw,
      |    substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
      |  FROM c2),
      |c4 AS (SELECT doc_id, source, scheme, pathq,
      |    CASE WHEN scheme = 'https' AND lower(authraw) LIKE '%:443'
      |        THEN left(lower(authraw), length(authraw) - 4)
      |      WHEN scheme = 'http' AND lower(authraw) LIKE '%:80'
      |        THEN left(lower(authraw), length(authraw) - 3)
      |      ELSE lower(authraw) END AS auth0
      |  FROM c3),
      |c5 AS (SELECT doc_id, source, scheme,
      |    CASE WHEN auth0 LIKE 'www.%' THEN substr(auth0, 5) ELSE auth0 END
      |      AS auth,
      |    split_part(pathq, '?', 1) AS upath,
      |    CASE WHEN position('?' IN pathq) > 0
      |      THEN substr(pathq, length(split_part(pathq, '?', 1)) + 2)
      |      ELSE '' END AS qs
      |  FROM c4),
      |cu AS (SELECT doc_id, source,
      |    scheme || '://' || auth ||
      |    (CASE WHEN length(upath) > 1 AND upath LIKE '%/'
      |      THEN left(upath, length(upath) - 1) ELSE upath END) ||
      |    (CASE WHEN qkeep <> '' THEN '?' || qkeep ELSE '' END) AS canon_url
      |  FROM (SELECT *, array_to_string(list_filter(string_split(qs, '&'),
      |      kv -> NOT (split_part(kv, '=', 1) IN ('fbclid', 'gclid', 'ref')
      |        OR substr(split_part(kv, '=', 1), 1, 4) = 'utm_')), '&')
      |      AS qkeep FROM c5))""".stripMargin
  private lazy val d90Sql =
    s"WITH $urlCanonCteSql,\n" +
      """k AS (SELECT canon_url, MIN(doc_id) AS keeper,
        |    CAST(COUNT(*) AS BIGINT) AS n_variants
        |  FROM cu GROUP BY 1)
        |SELECT cu.doc_id, cu.canon_url, k.n_variants, k.keeper,
        |  CASE WHEN cu.doc_id = k.keeper THEN 'keeper' ELSE 'dup' END
        |    AS status
        |FROM cu JOIN k USING (canon_url)""".stripMargin

  // ---- d91: end-to-end corpus release (the composed pipeline) ----
  // What a user of this engine actually RUNS: one query that chains
  // the already-gated rungs into a release manifest — URL dedup
  // keepers (d90) → substring-span scrub (d83, keeper semantics
  // corpus-wide) → decontamination apply (d33's rule over d23's
  // verdicts: drop contamination >= tau, keep unscoreable) →
  // leakage-safe split (d37's cluster-keeper coin; sig-equality
  // clusters ARE the sig groups, the equivalence d37's own oracle
  // pins, so the composed form uses the direct group-min keeper) →
  // context-window packing (d16's sharded running sum, applied PER
  // (split, shard) — a release never packs train and test into one
  // bin). Output: one row per released doc with its split, pack bin,
  // clean token count and scrubbed-text md5 — the manifest a training
  // job consumes.
  //
  // Scale shape — r17's refinement of the round-16 point: the heavy
  // rungs (span scrub, exact contamination, per-doc signatures) live
  // in the materialized release ledger below, and the composed query
  // touches ONLY that ledger — every FileScan in its plan is the
  // ledger's, zero scans of the raw corpus (pinned in
  // PlanDisciplineSpec). The rungs d91 adds live (URL canon keeper
  // election, the split coin, packing) are the remaining shuffles —
  // each rung's own irreducible key exchange (canon / sig / doc_id /
  // pack window); the eval slice (doc_id < 20) stays out by d33's
  // definition, and a fully-scrubbed doc (kept 0) leaves the
  // release, the d79 rule.
  // ---- the materialized release scrub ledger ----
  // r16's d91 recomputed its two EXPENSIVE rungs — the corpus-wide
  // span ledger (gram sites → keeper election → islands → kept
  // positions) and the exact contamination verdicts (5-gram shingle
  // join against the eval slice) — from the checkpointed base on
  // every run: 3.63 s at sf0.1, the round's 3rd-slowest row, while
  // the screen-report family had already shown the production shape
  // (materialize once, read everywhere — VERDICT r16 next 4). The
  // verdict suggested reading `screenReport`, but that artifact can't
  // serve this composition: its universe starts at doc_id >= fuzzyEvalN
  // (=100, the sampler's corpus) while the release universe starts at
  // 20 (d33's eval slice), its contamination flags are the FUZZY and
  // BLOOM screens (d58/d57) where the release deploys the EXACT d23
  // tau verdict, and it carries scrub token COUNTS where the release
  // needs the scrubbed text's md5. So the release path gets its own
  // per-doc artifact at its own grain — doc_id, source, kept_tokens,
  // clean_md5, contaminated — built once per (session, dataset) and
  // read by d91 as one FileScan. The rungs d91 genuinely adds at
  // compose time (URL canon keepers, the split coin, per-(split,shard)
  // packing) stay live in the query.
  private val releaseLedgerDisk = new DiskLayoutCache("graft_release")
  private[graft] def releaseLedger(s: SparkSession, dir: String): DataFrame = {
    val path = releaseLedgerDisk.getOrBuild(s, dir) { p =>
      import s.implicits._
      val base = tokenizedDocs(s, dir) // doc_id, source, toks (persisted)

      // d83: removable spans under corpus-wide keeper semantics
      val spansByDoc = dupSpansOf(removableSites(gramSitesOfToks(
          base.select($"doc_id", $"toks"), dupL)))
        .groupBy($"doc_id")
        .agg(sort_array(collect_list(struct($"span_start".as("a"),
          $"span_end".as("b")))).as("spans"))

      // d23/d33: exact contamination verdicts as deployed
      val sh = base.filter(size($"toks") >= 5)
        .select($"doc_id", explode(TextOps.shingles("toks", 5)).as("sh"))
      val evalSet = sh.filter($"doc_id" < 20).select($"sh").distinct()
        .withColumn("hit", lit(1L))
      val contaminated = sh.filter($"doc_id" >= 20)
        .join(evalSet, Seq("sh"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("total"),
          sum(coalesce($"hit", lit(0L))).as("nc"))
        .filter(round($"nc".cast("double") / $"total", 6) >= decontamTau)
        .select($"doc_id", lit(1L).as("contaminated"))

      base
        .join(contaminated, Seq("doc_id"), "left")
        .join(spansByDoc, Seq("doc_id"), "left")
        .withColumn("spans", coalesce($"spans",
          expr("cast(array() as array<struct<a: bigint, b: bigint>>)")))
        .withColumn("kept", expr(
          "filter(sequence(0, size(toks) - 1), p -> " +
            "NOT exists(spans, s -> p >= s.a AND p < s.b))"))
        .select($"doc_id", $"source",
          coalesce($"contaminated", lit(0L)).as("contaminated"),
          size($"kept").cast("long").as("kept_tokens"),
          md5(concat_ws(" ",
            expr("transform(kept, p -> toks[p])")).cast("binary"))
            .as("clean_md5"),
          // the word-set signature (d34's bag-of-words identity) rides
          // along: it is the third per-doc signature this ledger
          // already exists to hold (next to clean_md5), and it lets
          // the split rung's keeper election run off the ledger
          // without re-tokenizing the corpus
          md5(concat_ws(" ", array_sort(array_distinct($"toks")))
            .cast("binary")).as("sig"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  private def d91(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val led = releaseLedger(s, dir)

    // rung 1 — d90: canonical-URL keepers (live — d91's own rung; the
    // URL derives from doc_id/source, which the ledger carries).
    // min(doc_id) per canon IS the keeper id, so the election is one
    // partial-aggregable groupBy with no join-back (the r16 form
    // re-joined the urls frame just to re-derive the min it had).
    val urlKeepers = urlCanonCols(led.select($"doc_id", $"source")
        .withColumn("url", expr(urlVariantSparkSql)))
      .select($"doc_id", $"canon")
      .groupBy($"canon").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")

    // rung 4 — d37: split coin off the word-set cluster keeper (live;
    // the per-doc sig is a ledger column, the election + coin are not)
    val sigs = led.select($"doc_id", $"sig")
    val sigKeep = sigs.groupBy($"sig").agg(min($"doc_id").as("keeper"))
    val bucket = substring(md5($"keeper".cast("string").cast("binary")), 1, 2)
    // keeper tables are corpus-proportional (one row per distinct sig /
    // canon URL): the merge hints pin the shuffled-join shape — the
    // ledger discipline — where size-based planning would broadcast
    // them at fixture scale (they derive from a small FileScan here,
    // so unlike the raw-corpus aggregations Catalyst CAN see their
    // size and WOULD broadcast)
    val splits = sigs.join(sigKeep.hint("merge"), "sig")
      .select($"doc_id",
        when(bucket < "cc", "train").when(bucket < "e6", "val")
          .otherwise("test").as("split"))

    // rungs 2+3 — span scrub + exact contamination — are ledger
    // columns; compose: training universe ∩ URL keepers − contaminated,
    // kept > 0, split-assigned
    val survivors = led
      .filter($"doc_id" >= 20 && $"contaminated" === 0L &&
        $"kept_tokens" > 0)
      .select($"doc_id", $"source", $"kept_tokens", $"clean_md5")
      .join(urlKeepers.hint("merge"), "doc_id")
      .join(splits.hint("merge"), "doc_id")

    // rung 5 — d16: pack per (split, shard) with CLEAN token weights
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"split", $"shard").orderBy($"doc_id")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    survivors
      .withColumn("shard", pmod($"doc_id", lit(packShards)))
      .withColumn("cum", sum($"kept_tokens").over(w))
      .select($"doc_id", $"source", $"split", $"shard",
        (($"cum" - $"kept_tokens") / packBudget).cast("long").as("bin"),
        $"kept_tokens", $"clean_md5")
  }
  private lazy val d91Sql =
    s"WITH $urlCanonCteSql,\n" +
      """uk AS (SELECT canon_url, MIN(doc_id) AS ukeeper
        |  FROM cu GROUP BY 1),
        |ukeep AS (SELECT cu.doc_id FROM cu JOIN uk USING (canon_url)
        |  WHERE cu.doc_id = uk.ukeeper),
        |cont AS (SELECT doc_id FROM (
        |""".stripMargin + d23Sql +
      s"""
        |) cq WHERE contamination >= $decontamTau),
        |""".stripMargin + dupGramCte + ",\n" +
      s"""r AS (SELECT doc_id, pos, row_number() OVER
        |    (PARTITION BY gh ORDER BY doc_id, pos) AS rn FROM g),
        |h AS (SELECT doc_id, pos FROM r WHERE rn >= 2),
        |""".stripMargin + dupIslandsSql + ",\n" +
      s"""spans AS (SELECT doc_id, MIN(pos) AS a, MAX(pos) + $dupL AS b
        |  FROM sp GROUP BY doc_id, sid),
        |pos AS (SELECT doc_id, unnest(generate_series(1, len(toks))) - 1 AS p,
        |    toks FROM t),
        |cov AS (SELECT DISTINCT pos.doc_id, pos.p FROM pos
        |  JOIN spans s ON pos.doc_id = s.doc_id
        |    AND pos.p >= s.a AND pos.p < s.b),
        |kept AS (SELECT pos.doc_id, pos.p, pos.toks[pos.p + 1] AS tok
        |  FROM pos LEFT JOIN cov
        |    ON pos.doc_id = cov.doc_id AND pos.p = cov.p
        |  WHERE cov.p IS NULL),
        |cl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
        |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_md5
        |  FROM kept GROUP BY 1),
        |sigs AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS sig
        |  FROM t),
        |sk AS (SELECT sig, MIN(doc_id) AS keeper FROM sigs GROUP BY 1),
        |spl AS (SELECT s.doc_id,
        |    CASE WHEN substring(md5(CAST(sk.keeper AS VARCHAR)), 1, 2) < 'cc'
        |           THEN 'train'
        |         WHEN substring(md5(CAST(sk.keeper AS VARCHAR)), 1, 2) < 'e6'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM sigs s JOIN sk USING (sig)),
        |surv AS (SELECT t.doc_id, d.source, cl.kept_tokens, cl.clean_md5,
        |    spl.split, t.doc_id % $packShards AS shard
        |  FROM t JOIN documents d ON t.doc_id = d.doc_id
        |  JOIN ukeep ON t.doc_id = ukeep.doc_id
        |  JOIN cl ON t.doc_id = cl.doc_id
        |  JOIN spl ON t.doc_id = spl.doc_id
        |  LEFT JOIN cont ON t.doc_id = cont.doc_id
        |  WHERE t.doc_id >= 20 AND cont.doc_id IS NULL
        |    AND cl.kept_tokens > 0),
        |packed AS (SELECT *, SUM(kept_tokens) OVER
        |    (PARTITION BY split, shard ORDER BY doc_id
        |     ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM surv)
        |SELECT doc_id, source, split, shard,
        |  CAST(floor(CAST(cum - kept_tokens AS DOUBLE) / $packBudget)
        |    AS BIGINT) AS bin,
        |  kept_tokens, clean_md5
        |FROM packed""".stripMargin

  // ---- d92: end-to-end crawl ingest (the composed APPLY pipeline) ----
  // d89 REPORTS the ingest funnel; this row RUNS it (VERDICT r16 next
  // 8) — the ingest-side sibling of d91's release composition: URL
  // canonicalization with keeper dedup APPLIED (d90: only the min-id
  // spelling of each canonical URL is fetched/kept), HTML main-content
  // extraction APPLIED (d85: non-extractable pages leave the corpus),
  // and the secret scrub APPLIED TO THE EXTRACTED TEXT (d87 over d85's
  // output — the order a production ingest runs them, and the one
  // composition d88 doesn't already pin: d88 screens extracted text,
  // this one rewrites it). Output: one row per ingested page — its
  // canonical URL, token/redaction counts and the scrubbed main
  // content's md5 (the bytes a downstream curation run would receive).
  //
  // Scale shape: page synthesis + URL canon + extraction fuse into ONE
  // map-only projection of one corpus scan (the d89 fusion seam); the
  // only exchange pair is the canon-key keeper election (a partial-
  // aggregable min, the d90 shape) joined back on doc_id; the scrub is
  // a second map-only chain over the survivors. No window, no
  // corpus-sized broadcast, no explode.
  /** The fused ingest column chain — page synthesis + URL canon +
    * extraction in ONE map-only projection (the d89 fusion seam) —
    * over any documents frame, batch (d92) or stream (s51). */
  private[operators] def ingestCols(docs: DataFrame): DataFrame =
    htmlExtractCols(urlCanonCols(
      syntheticPages(docs).withColumn("url", expr(urlVariantSparkSql))))

  /** The canonical-URL keeper set (d90's partial-aggregable min-id
    * election) as a doc_id ledger — d92's dedup stage and s51's
    * stream-static side. Corpus-proportional: consumers join it. */
  private[operators] def urlKeeperLedger(s: SparkSession, dir: String)
      : DataFrame =
    urlCanonCols(syntheticUrls(Tables(s, dir, "documents")))
      .select(col("doc_id"), col("canon"))
      .groupBy(col("canon")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

  // ---- bucketed ledger materializations (the q30/v06 discipline) ----
  // The corpus-proportional ledgers the streaming probes (s40/s43/s51)
  // and the composed batch forms (d92) join on EVERY micro-batch /
  // run were, until r18, re-DERIVED inside each consumer plan: a
  // stream-static join re-executes its static subtree per trigger, so
  // every micro-batch paid the full gram-explode + keeper-election
  // build AND a fresh exchange of the ledger (VERDICT r17 next 3).
  // Production shape: elect once, land the ledger bucketed+sorted on
  // its join key, and every subsequent join reads co-located buckets —
  // the static side crosses NO exchange, per-batch cost is the probe
  // side only. Memoized once per (session, dataset); results are
  // bucketing-invisible, so the consumers' oracles are unchanged.
  // Consumers still attach `hint("merge")`: the materialized ledger
  // has a known (small, at fixture scale) file size, and without the
  // hint AQE would broadcast it — masking the no-broadcast 100 TB
  // shape the plan pins assert.
  private val ledgerTables =
    new SessionCache[(String, String), String](_ => ())

  private[graft] def bucketedLedger(s: SparkSession, dir: String,
      name: String, key: String)(build: => DataFrame): DataFrame = {
    val tbl = ledgerTables.getOrBuild(s, (dir, name)) {
      // collision-proof dataset tag (ADVICE r18): two dirs colliding on
      // Int hashCode would silently OVERWRITE each other's ledger table
      // while the SessionCache (keyed on the exact dir) kept handing
      // earlier consumers the shared table name — md5 of the path
      // cannot collide in practice
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
      val t = s"graft_led_${name}_$tag"
      val wh = s.conf.get("spark.sql.warehouse.dir")
      graft.sources.Bucketing.writeBucketed(build, s"$wh/$t", t, key, 32)
      t
    }
    s.table(tbl)
  }

  private[graft] def dupGramLedgerBucketed(s: SparkSession, dir: String)
      : DataFrame =
    bucketedLedger(s, dir, "dupgram", "gh")(dupGramLedger(s, dir))

  private[graft] def copyFlowLedgerBucketed(s: SparkSession, dir: String)
      : DataFrame =
    bucketedLedger(s, dir, "copyflow", "gh")(copyFlowLedger(s, dir))

  private[graft] def urlKeeperLedgerBucketed(s: SparkSession, dir: String)
      : DataFrame =
    bucketedLedger(s, dir, "urlkeep", "doc_id")(urlKeeperLedger(s, dir))

  /** d92's scrubbed per-page output over ingest survivors carrying
    * (doc_id, source, canon_url, text=extracted main). */
  private[operators] def ingestScrubOut(survivors: DataFrame): DataFrame =
    scrubCols(survivors)
      .select(col("doc_id"), col("source"), col("canon_url"),
        size(col("ws")).cast("long").as("n_tokens"),
        col("n_redacted"),
        length(col("scrubbed")).cast("long").as("clean_chars"),
        md5(col("scrubbed").cast("binary")).as("clean_md5"))

  private def d92(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fused = ingestCols(Tables(s, dir, "documents"))
    // keeper ledger: materialized bucketed on doc_id (built once per
    // (session, dataset), shared with s51) and joined SHUFFLED — the
    // ledger is corpus-proportional, so the merge hint pins the
    // no-broadcast shape AQE would otherwise hide at fixture scale
    // opaque ALIAS (the d88 rationale): un-wrapped, the kept-blocks
    // chain is substituted into the pushed-down Filter and every page
    // pays the block extraction twice
    val survivors = fused
      .withColumn("kept", graft.functions.GraftFunctions.opaque($"kept"))
      .filter(size($"kept") >= 1)
      .join(urlKeeperLedgerBucketed(s, dir).hint("merge"), "doc_id")
      .select($"doc_id", $"source", $"canon".as("canon_url"),
        $"main".as("text"))
    ingestScrubOut(survivors)
  }
  private[operators] lazy val d92Sql =
    s"WITH $d85CtePrefix,\n$urlCanonCteSql,\n" +
      s"""uk AS (SELECT canon_url, MIN(doc_id) AS keeper FROM cu GROUP BY 1),
         |surv AS (SELECT m.doc_id, cu.source, cu.canon_url, m.main
         |  FROM m JOIN cu ON m.doc_id = cu.doc_id
         |  JOIN uk ON cu.canon_url = uk.canon_url AND m.doc_id = uk.keeper
         |  WHERE len(m.kept) >= 1),
         |w92 AS (SELECT doc_id, source, canon_url,
         |    string_split_regex(trim(main), '\\s+') AS ws
         |  FROM surv),
         |sc92 AS (SELECT doc_id, source, canon_url, ws,
         |    array_to_string(list_transform(ws, t -> CASE WHEN $flagPredDuck
         |      THEN '[REDACTED]' ELSE t END), ' ') AS scrubbed
         |  FROM w92)
         |SELECT doc_id, source, canon_url,
         |  CAST(len(ws) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(ws, t -> $flagPredDuck)) AS BIGINT)
         |    AS n_redacted,
         |  CAST(length(scrubbed) AS BIGINT) AS clean_chars,
         |  md5(scrubbed) AS clean_md5
         |FROM sc92""".stripMargin

  // ---- d85: HTML boilerplate extraction (main-content screen) ----
  // The curation rung UPSTREAM of every text screen in this file: real
  // corpora arrive as markup, and d01/d03/d43/d38 all assume someone
  // already stripped the chrome. This is that someone — the
  // trafilatura/jusText-shaped stage: drop <script>/<style> subtrees,
  // split the page into text blocks at block-level tags, score each
  // block by LENGTH and LINK DENSITY (boilerplate = short or
  // link-saturated: nav bars, sidebars, footers), and keep the rest as
  // the main content. Scale shape: ONE map-only projection (the
  // d38/d84 discipline — zero shuffles, no explode; string HOFs over
  // each page), so it pipelines into any crawl scan at 100 TB.
  //
  // The fixture corpus is plain text, so pages are SYNTHESIZED
  // deterministically around it (title/script/nav/sidebar/footer
  // chrome + the doc text as <p> blocks) — the extraction then has a
  // ground truth: chrome dropped, body recovered. Both engines build
  // and extract the identical page, and HtmlExtractSpec additionally
  // proves byte-exact body recovery on constructed pages.
  //
  // Exactness: all string ops (regexp_replace, split, trim, replace)
  // have identical semantics on identical inputs; the only numbers are
  // integer lengths. The kept-block rule (len >= 20 AND 3·linklen <
  // len) is integer arithmetic; md5 gates the extracted BYTES, not
  // just the counts.
  private val htmlBlockSplit =
    "(?i)</?(?:p|div|nav|footer|header|h[1-6]|ul|ol|li|section|article|body|html|head|title|table|tr|td|br)[^>]*>"
  private val htmlMinBlockChars = 20

  /** Deterministic page chrome around each fixture doc: head with
    * script+style (must vanish), nav + sidebar + footer (link-dense,
    * must be dropped), doc text as <p> paragraphs (must survive). */
  private[graft] def syntheticPages(docs: DataFrame): DataFrame =
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"), col("text"), expr(
        "concat('<html><head><title>', source, '</title>'," +
          "'<style>body{margin:0}</style>'," +
          "'<script type=\"text/javascript\">track(', cast(doc_id as string), ');</script>'," +
          "'</head><body>'," +
          "'<nav><a href=\"/\">Home</a><a href=\"/about\">About</a>" +
          "<a href=\"/contact\">Contact</a><a href=\"/login\">Log in</a></nav>'," +
          "'<h1>', source, '</h1>'," +
          "'<div class=\"content\"><p>', replace(text, '. ', '.</p><p>'), '</p></div>'," +
          "'<div class=\"sidebar\"><a href=\"/t/alpha\">alpha stories</a>" +
          "<a href=\"/t/beta\">beta stories</a><a href=\"/t/gamma\">gamma stories</a></div>'," +
          "'<footer><a href=\"/tos\">Terms of Service</a>" +
          "<a href=\"/privacy\">Privacy Policy</a>" +
          "<a href=\"/cookies\">Cookie Settings</a>(c) 2026</footer>'," +
          "'</body></html>')").as("html"))

  /** The extraction column chain WITHOUT the output projection —
    * appends blocks/kept/main to whatever frame carries `html`, so
    * compositions (d89) can fuse extraction with other per-doc
    * columns into ONE projection instead of joining parallel
    * projections of the same scan. */
  private[operators] def htmlExtractCols(pages: DataFrame): DataFrame =
    pages
      .withColumn("noscript", expr(
        "regexp_replace(html, '(?is)<script.*?</script>|<style.*?</style>', '')"))
      .withColumn("blocks", expr(
        s"filter(transform(split(noscript, '$htmlBlockSplit'), " +
          "b -> struct(trim(regexp_replace(b, '<[^>]*>', '')) AS txt, " +
          "aggregate(regexp_extract_all(b, '(?is)<a[^>]*>(.*?)</a>', 1), " +
          "0, (a, x) -> a + length(x)) AS linklen)), " +
          "s -> length(s.txt) > 0)"))
      .withColumn("kept", expr(
        s"filter(blocks, s -> length(s.txt) >= $htmlMinBlockChars " +
          "AND s.linklen * 3 < length(s.txt))"))
      .withColumn("main", expr(
        "replace(replace(replace(replace(replace(" +
          "array_join(transform(kept, s -> s.txt), chr(10))," +
          "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39))," +
          "'&amp;', '&')"))

  /** The stateless extraction transform over a (doc_id, html) frame —
    * column ops only (map-only), so the same tree pipelines into a
    * batch crawl scan or a readStream. Keeps `main` for the spec;
    * d85 projects the audited columns. */
  private[graft] def htmlExtract(pages: DataFrame): DataFrame =
    htmlExtractCols(pages)
      .select(col("doc_id"),
        size(col("blocks")).cast("long").as("n_blocks"),
        size(col("kept")).cast("long").as("n_kept"),
        length(col("main")).cast("long").as("main_len"),
        md5(col("main").cast("binary")).as("main_md5"),
        col("main"))

  private def d85(s: SparkSession, dir: String): DataFrame =
    htmlExtract(syntheticPages(Tables(s, dir, "documents"))).drop("main")
  /** The d85 CTE chain up to the extracted `main` content — shared
    * with d88, which screens the EXTRACTED text. */
  private val d85CtePrefix =
    s"""pg AS (SELECT doc_id, concat('<html><head><title>', source, '</title>',
       |    '<style>body{margin:0}</style>',
       |    '<script type="text/javascript">track(', CAST(doc_id AS VARCHAR), ');</script>',
       |    '</head><body>',
       |    '<nav><a href="/">Home</a><a href="/about">About</a><a href="/contact">Contact</a><a href="/login">Log in</a></nav>',
       |    '<h1>', source, '</h1>',
       |    '<div class="content"><p>', replace(text, '. ', '.</p><p>'), '</p></div>',
       |    '<div class="sidebar"><a href="/t/alpha">alpha stories</a><a href="/t/beta">beta stories</a><a href="/t/gamma">gamma stories</a></div>',
       |    '<footer><a href="/tos">Terms of Service</a><a href="/privacy">Privacy Policy</a><a href="/cookies">Cookie Settings</a>(c) 2026</footer>',
       |    '</body></html>') AS html
       |  FROM documents WHERE length(trim(text)) > 0),
       |ns AS (SELECT doc_id, regexp_replace(html,
       |    '(?is)<script.*?</script>|<style.*?</style>', '', 'g') AS noscript
       |  FROM pg),
       |bl AS (SELECT doc_id, list_filter(list_transform(
       |    string_split_regex(noscript, '$htmlBlockSplit'),
       |    b -> struct_pack(txt := trim(regexp_replace(b, '<[^>]*>', '', 'g')),
       |      linklen := coalesce(list_aggregate(list_transform(
       |        regexp_extract_all(b, '(?is)<a[^>]*>(.*?)</a>', 1),
       |        x -> length(x)), 'sum'), 0))),
       |    s -> length(s.txt) > 0) AS blocks
       |  FROM ns),
       |k AS (SELECT doc_id, blocks, list_filter(blocks,
       |    s -> length(s.txt) >= $htmlMinBlockChars
       |      AND s.linklen * 3 < length(s.txt)) AS kept
       |  FROM bl),
       |m AS (SELECT doc_id, blocks, kept,
       |    replace(replace(replace(replace(replace(
       |      array_to_string(list_transform(kept, s -> s.txt), chr(10)),
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
       |      '&amp;', '&') AS main
       |  FROM k)""".stripMargin
  private[operators] val d85Sql =
    s"""WITH $d85CtePrefix
       |SELECT doc_id, CAST(len(blocks) AS BIGINT) AS n_blocks,
       |  CAST(len(kept) AS BIGINT) AS n_kept,
       |  CAST(length(main) AS BIGINT) AS main_len, md5(main) AS main_md5
       |FROM m""".stripMargin

  // ---- d88: quality screen over EXTRACTED content (d85 → d03) ----
  // The composition d85 exists for: the curation funnel screens the
  // main content, not the raw markup — link-soup chrome and script
  // bodies would poison every length/punct/stopword statistic. This
  // is d03's quality battery computed over d85's extracted text,
  // proving the extraction stage actually FEEDS the downstream
  // screens (composed oracle: the d85 CTE chain piped into d03's
  // projection). Still zero shuffles end-to-end — extraction and
  // screening fuse into one map-only projection over the page scan.
  private def d88(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    htmlExtract(syntheticPages(Tables(s, dir, "documents")))
      // r21 (guide §4.4): the opaque ALIAS blocks the trim filter from
      // being pushed below this projection by substitution — un-wrapped,
      // the whole extraction chain ran twice per row (once inside the
      // pushed Filter, once in the surviving Project). Wrapping the
      // CONDITION instead does nothing: Project pushdown does not check
      // the condition's determinism, only the aliases'. Same values,
      // one eval.
      .select($"doc_id",
        graft.functions.GraftFunctions.opaque($"main").as("text"))
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", $"text", TextOps.tokensOnce($"text").as("toks"))
      .select($"doc_id",
        length($"text").cast("long").as("n_chars_q"),
        size($"toks").cast("long").as("n_tokens"),
        (length(regexp_replace($"text", "[^.!?,;:]", "")) / length($"text"))
          .as("punct_ratio"),
        (hitCount("toks", stopEn) / size($"toks")).as("stop_ratio"),
        (graft.functions.GraftFunctions.tokLenSum(col("toks")) / size($"toks"))
          .as("avg_token_len"))
  }
  private[operators] val d88Sql =
    s"""WITH $d85CtePrefix,
       |xt AS (SELECT doc_id, main AS text,
       |    string_split(lower(trim(regexp_replace(main, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM m WHERE length(trim(main)) > 0)
       |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_q,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |  CAST(${duckHitCount("toks", stopEn)} AS DOUBLE) / len(toks) AS stop_ratio,
       |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len
       |FROM xt""".stripMargin

  val all: Seq[Q] = Seq(
    Q("d01_dedup_exact", d01, Some(d01Sql)),
    Q("d02_token_counts", d02, Some(d02Sql)),
    Q("d03_quality_scores", d03, Some(d03Sql)),
    Q("d04_lang_id", d04, Some(d04Sql)),
    Q("d05_ngram_jaccard", d05, Some(d05Sql)),
    Q("d06_minhash_lsh", d06MinhashLsh, Some(GoldenOracles.d06)),
    Q("d07_simhash", d07Simhash, Some(GoldenOracles.d07)),
    // second-scale gate for d07's 138,939-row sf0.1 output (VERDICT
    // r18 next 2): the full table digested order-insensitively, pinned
    // at both scales — see DigestGate/GoldenOracles.d07d
    Q("d07d_simhash_digest",
      (s, d) => DigestGate.digest(d07Simhash(s, d)),
      Some(GoldenOracles.d07d)),
    Q("d08_fingerprints", d08Fingerprint, Some(GoldenOracles.d08)),
    Q("d09_curation_pipeline", d09, Some(d09Sql)),
    Q("d10_minhash_lsh_md5", d10MinhashMd5, Some(d10Sql)),
    Q("d11_simhash_md5", d11SimhashMd5, Some(d11Sql)),
    Q("d12_fingerprints_md5", d12FingerprintMd5, Some(d12Sql)),
    Q("d13_repetition_ratio", d13, Some(d13Sql)),
    Q("d14_dedup_clusters", d14, Some(d14Sql)),
    Q("d15_hash_split", d15, Some(d15Sql)),
    Q("d16_sequence_pack", d16, Some(d16Sql)),
    Q("d17_tfidf_topterms", d17, Some(d17Sql)),
    Q("d18_boilerplate", d18, Some(d18Sql)),
    Q("d19_stratified_sample", d19, Some(d19Sql)),
    Q("d20_unigram_logprob", d20, Some(d20Sql)),
    Q("d21_dedup_clusters_star", d21, Some(d14Sql)),
    Q("d22_pii_scrub", d22, Some(d22Sql)),
    Q("d23_contamination", d23, Some(d23Sql)),
    Q("d24_shuffle_order", d24, Some(d24Sql)),
    Q("d25_chunk_dedup", d25, Some(d25Sql)),
    Q("d26_mixture_epochs", d26, Some(d26Sql)),
    Q("d27_chunk_dedup_apply", d27, Some(d27Sql)),
    Q("d28_quality_budget", d28, Some(d28Sql)),
    Q("d29_langid_confusion", d29, Some(d29Sql)),
    Q("d30_curation_manifest", d30, Some(d30Sql)),
    Q("d31_ngram_novelty", d31, Some(d31Sql)),
    Q("d32_vocab_growth", d32, Some(d32Sql)),
    Q("d33_decontam_apply", d33, Some(d33Sql)),
    Q("d34_incremental_dedup", d34, Some(d34Sql)),
    Q("d35_partitioned_corpus", d35, Some(d35Sql)),
    Q("d36_context_chunks", d36, Some(d36Sql)),
    Q("d37_leakage_safe_split", d37, Some(d37Sql)),
    Q("d38_quality_classifier", d38, Some(d38Sql)),
    Q("d39_importance_resample", d39, Some(d39Sql)),
    Q("d40_token_fertility", d40, Some(d40Sql)),
    Q("d41_distinctive_terms", d41, Some(d41Sql)),
    Q("d42_dedup_agreement", d42, Some(d42Sql)),
    Q("d43_gopher_rules", d43, Some(d43Sql)),
    Q("d44_perplexity_filter", d44, Some(d44Sql)),
    Q("d45_bm25_retrieval", d45, Some(d45Sql)),
    Q("d46_kmv_distinct", d46, Some(d46Sql)),
    Q("d47_length_quantiles", d47, Some(d47Sql)),
    Q("d48_source_overlap", d48, Some(d48Sql)),
    Q("d49_hll_distinct", d49, Some(d49Sql)),
    Q("d50_lang_consistency", d50, Some(d50Sql)),
    Q("d51_bm25_decontam_apply", d51, Some(d51Sql)),
    Q("d52_token_gini", d52, Some(d52Sql)),
    Q("d53_fuzzy_decontam", d53, Some(d53Sql)),
    Q("d54_source_jaccard_sketch", d54, Some(d54Sql)),
    Q("d55_heavy_hitters", d55, Some(d55Sql)),
    Q("d56_packing_efficiency", d56, Some(d56Sql)),
    Q("d57_bloom_contamination", d57, Some(d57Sql)),
    Q("d58_fuzzy_decontam_prod", d58, Some(GoldenOracles.d58)),
    Q("d59_weighted_sample", d59, Some(d59Sql)),
    Q("d60_curation_manifest_v2", d60, Some(d60Sql)),
    Q("d61_source_jaccard_prod", d61, Some(d61Sql)),
    Q("d62_source_overlap_sketch", d62, Some(d62Sql)),
    Q("d63_incremental_neardup", d63, Some(d63Sql)),
    Q("d64_quantile_sketch", d64, Some(d64Sql)),
    Q("d65_countmin_sketch", d65, Some(d65Sql)),
    Q("d66_bpe_merges", d66, Some(d66Sql)),
    Q("d67_bpe_fertility", d67, Some(d67Sql)),
    Q("d68_countmin_dial_curve", d68, Some(d68Sql)),
    Q("d69_curation_manifest_v3", d69, Some(d69Sql)),
    Q("d70_contamination_report", d70, Some(d70Sql)),
    Q("d71_dup_spans", d71, Some(d71Sql)),
    Q("d72_dup_span_scrub", d72, Some(d72Sql)),
    Q("d73_lsh_dial_curve", d73, Some(d73Sql)),
    Q("d74_source_datasheet", d74, Some(d74Sql)),
    Q("d75_quality_calibration", d75, Some(d75Sql)),
    Q("d76_quality_auc", d76, Some(d76Sql)),
    Q("d77_dup_dial_curve", d77, Some(d77Sql)),
    Q("d78_copy_flows", d78, Some(d78Sql)),
    Q("d79_curation_manifest_v4", d79, Some(d79Sql)),
    Q("d80_zipf_fit", d80, Some(d80Sql)),
    Q("d81_source_zipf", d81, Some(d81Sql)),
    Q("d82_dup_spans_prod", d82, Some(d71Sql)),
    Q("d83_dup_span_apply", d83, Some(d83Sql)),
    Q("d84_entropy_screen", d84, Some(d84Sql)),
    Q("d85_html_extract", d85, Some(d85Sql)),
    Q("d86_bpe_encode", d86, Some(d86Sql)),
    Q("d87_secret_scrub", d87, Some(d87Sql)),
    Q("d88_extracted_quality", d88, Some(d88Sql)),
    Q("d89_ingest_funnel", d89, Some(d89Sql)),
    Q("d90_url_canonical_dedup", d90, Some(d90Sql)),
    Q("d91_corpus_release", d91, Some(d91Sql)),
    Q("d92_crawl_ingest", d92, Some(d92Sql)))


}
