package graft.operators

import graft.{QueryDef, QueryModule}
import graft.operators.CrossEngineMix._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale training-data pipeline
  * runs between raw crawl and tokenizer: deterministic sampling (the
  * reproducible replacement for rand()-based subsampling), domain
  * mixing, sequence packing, PII scrubbing, intra-document repetition
  * scoring, a Bloom-prefiltered dedup against a reference corpus, and
  * a distributed global shuffle.
  *
  * Determinism is the design center: every "random" choice derives
  * from an arithmetic hash of the row's key, so a 100 TB run is
  * reproducible bit-for-bit across retries, re-partitionings and
  * cluster sizes — and each operator gets an exact DuckDB oracle
  * instead of a statistical one.
  */
object PipelineQueries extends QueryModule {

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1-555-[0-9]{4}"

  /** The funnel's per-row stage flags over a documents relation
    * (doc_id, text, lang): language allowlist, quality threshold,
    * repetition filter, plus the head-span dedup key. Every expression
    * is scan-local (no shuffle, no state), so the same method drives
    * the batch funnel (q_corpus_funnel) AND a streaming ingest — the
    * stage predicates are the SAME as q_text_quality /
    * q_text_repetition; the funnel composes, it doesn't redefine.
    */
  def corpusFlags(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val words = split(col("text"), " ")
    val nWords = size(words).cast("double")
    val nUniq = size(array_distinct(words)).cast("double")
    val nStop = size(
      filter(words, w => w.isin("the", "a", "of", "and"))
    ).cast("double")
    val quality = round(
      lit(0.4) * least(nWords / lit(50.0), lit(1.0)) +
        lit(0.4) * (nUniq / nWords) + lit(0.2) * (nStop / nWords),
      6)
    val dupRatio = round(lit(1.0) - nUniq / size(words), 6)
    docs
      .withColumn("dedup_key",
        array_join(slice(split(col("text"), " "), 1, 20), " "))
      .withColumn("f_lang", col("lang").isin("en", "de", "fr"))
      .withColumn("f_quality", quality >= 0.35)
      .withColumn("f_rep", dupRatio < 0.6)
      .withColumn("s1", col("f_lang"))
      .withColumn("s2", col("f_lang") && col("f_quality"))
      .withColumn("s3", col("f_lang") && col("f_quality") && col("f_rep"))
  }

  /** The whole corpus funnel as ONE streaming query (round-10): the
    * scan-local stage flags run unchanged on the stream, and the s3
    * survivors flow into a watermark-bounded exact-dedup on dedup_key
    * (dropDuplicatesWithinWatermark — the reference's streaming
    * first-row deduplicate, flink-table-runtime-blink/.../deduplicate/
    * DeduplicateKeepFirstRowFunction.java, whose state TTL is the
    * retention bound; here the watermark delay bounds the key state).
    * Input needs an `ingest_ts` TIMESTAMP column; upstream stages are
    * stateless, so the only state is one row per distinct dedup_key
    * inside the watermark horizon.
    *
    * Streaming-vs-batch keeper note: batch q_corpus_funnel keeps
    * min(doc_id) per key; the streaming operator keeps the FIRST
    * ARRIVAL — the survivor SET per key is identical, the
    * representative may differ under out-of-order delivery.
    */
  def streamingFunnel(docs: org.apache.spark.sql.DataFrame,
      watermarkDelay: String): org.apache.spark.sql.DataFrame =
    corpusFlags(docs)
      .filter(col("s3"))
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("dedup_key")

  def defs: Seq[QueryDef] = Seq(
    // Context-window chunking: split every document into overlapping
    // fixed-size token windows (size 8, stride 6 — the RAG/embedding
    // prep shape; real pipelines use 512/384 with a subword tokenizer,
    // the windowing math is identical). Scan-local explode — rows fan
    // out ~n_tokens/stride per doc with no shuffle, so the operator is
    // embarrassingly parallel at any corpus size; the chunk hash is
    // the dedup/join key downstream stages use.
    QueryDef(
      "q_chunk_overlap",
      (s, dir) => {
        val t = tables(s, dir)
        val C = 8 // chunk size (tokens)
        val S = 6 // stride (tokens) -> overlap C-S=2
        val words = split(col("text"), " ")
        // (r21: an ensureParallelInput floor was measured and reverted
        // here — paired A/B 1.22×: the md5 fanout is cheaper than the
        // exchange at this payload.)
        t.documents
          .select(col("doc_id"), words.as("w"), size(words).as("n"))
          .withColumn(
            "k",
            explode(sequence(lit(0), ((col("n") - 1) / lit(S)).cast("int"))))
          .select(
            col("doc_id"),
            col("k").as("chunk_idx"),
            (col("k") * S).as("chunk_start"),
            size(slice(col("w"), col("k") * S + 1, lit(C)))
              .as("n_chunk_tokens"),
            md5(array_join(slice(col("w"), col("k") * S + 1, lit(C)), " "))
              .as("chunk_hash"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS w,
                 len(string_split(text, ' ')) AS n
          FROM documents
        ), ks AS (
          SELECT doc_id, w, n,
                 unnest(generate_series(0, CAST((n - 1) // 6 AS BIGINT))) AS k
          FROM d
        )
        SELECT doc_id, CAST(k AS INT) AS chunk_idx,
               CAST(k * 6 AS INT) AS chunk_start,
               CAST(len(w[k*6+1 : least(k*6+8, n)]) AS INT) AS n_chunk_tokens,
               md5(array_to_string(w[k*6+1 : least(k*6+8, n)], ' ')) AS chunk_hash
        FROM ks
      """)
    ),
    // Table profiler (the data-quality census every ingest runs before
    // training): per-column row count, null count, exact distinct
    // count, and min/max — one pass over the table. The distinct
    // counts ride Spark's Expand (one shuffled pass for all columns,
    // map-side partials); min/max are computed on the native type and
    // cast to string only for the uniform report schema, so numeric
    // columns profile numerically, not lexicographically. The 100 TB
    // variant swaps count_distinct for the HLL sketch already
    // registered as q_agg_approx_distinct.
    QueryDef(
      "q_profile_table",
      (s, dir) => {
        val t = tables(s, dir)
        val cols = Seq("doc_id", "lang", "source", "n_chars")
        val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
          Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
            count_distinct(col(c)).as(s"${c}__distinct"),
            min(col(c)).cast("string").as(s"${c}__min"),
            max(col(c)).cast("string").as(s"${c}__max"))
        }
        val one = t.documents.agg(aggs.head, aggs.tail: _*)
        val stackArgs = cols
          .map(c => s"'$c', ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max")
          .mkString(", ")
        one.select(
          col("n_rows"),
          expr(s"stack(${cols.size}, $stackArgs) AS " +
            "(column_name, n_null, n_distinct, min_value, max_value)"))
      },
      Some(Seq("doc_id", "lang", "source", "n_chars").map { c =>
        s"""
        SELECT count(*) AS n_rows, '$c' AS column_name,
               CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null,
               count(DISTINCT $c) AS n_distinct,
               CAST(min($c) AS VARCHAR) AS min_value,
               CAST(max($c) AS VARCHAR) AS max_value
        FROM documents"""
      }.mkString(" UNION ALL "))
    ),
    // Equi-width histogram of a numeric column (the profiler's
    // distribution view): bounds from ONE 1-row aggregate broadcast to
    // the scan, bucketing is pure column arithmetic — scan-local at any
    // corpus size, the same shape as the z-order quantizer.
    QueryDef(
      "q_profile_histogram",
      (s, dir) => {
        val t = tables(s, dir)
        val bounds = t.documents
          .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
        t.documents
          .crossJoin(broadcast(bounds))
          .withColumn("width", (col("hi") - col("lo")) / lit(10.0))
          .withColumn("bucket",
            when(col("width") > 0,
              least(lit(9), floor((col("n_chars") - col("lo")) / col("width")).cast("int")))
              .otherwise(lit(0)))
          .groupBy(col("bucket"))
          .agg(
            count(lit(1)).as("n"),
            min(col("n_chars")).as("b_min"),
            max(col("n_chars")).as("b_max"))
      },
      Some("""
        WITH bounds AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi
                        FROM documents)
        SELECT CASE WHEN (hi - lo) / 10.0 > 0
                    THEN least(9, CAST(floor((n_chars - lo) / ((hi - lo) / 10.0)) AS INT))
                    ELSE 0 END AS bucket,
               count(*) AS n, min(n_chars) AS b_min, max(n_chars) AS b_max
        FROM documents CROSS JOIN bounds
        GROUP BY 1
      """)
    ),
    // Equi-DEPTH histogram — quantile buckets instead of equal widths
    // (the profiler shape skewed columns need: equal-width puts 95% of
    // a Zipf column in bucket 0). Boundaries are DISCRETE percentiles
    // (actual column values — no interpolation arithmetic to diverge
    // between engines), one 1-row broadcast; bucketing is scan-local
    // comparisons. At 100 TB swap the exact quantiles for GK — plan
    // shape unchanged.
    QueryDef(
      "q_profile_histogram_equidepth",
      (s, dir) => {
        val t = tables(s, dir)
        val qs = t.documents.agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)").as("q1"),
          expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY n_chars)").as("q2"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)").as("q3"))
        t.documents
          .crossJoin(broadcast(qs))
          .withColumn("bucket",
            when(col("n_chars") <= col("q1"), 0)
              .when(col("n_chars") <= col("q2"), 1)
              .when(col("n_chars") <= col("q3"), 2)
              .otherwise(3))
          .groupBy(col("bucket"))
          .agg(
            count(lit(1)).as("n"),
            min(col("n_chars")).as("b_min"),
            max(col("n_chars")).as("b_max"))
      },
      Some("""
        WITH qs AS (
          SELECT quantile_disc(n_chars, 0.25) AS q1,
                 quantile_disc(n_chars, 0.50) AS q2,
                 quantile_disc(n_chars, 0.75) AS q3
          FROM documents
        )
        SELECT CASE WHEN n_chars <= q1 THEN 0
                    WHEN n_chars <= q2 THEN 1
                    WHEN n_chars <= q3 THEN 2
                    ELSE 3 END AS bucket,
               count(*) AS n, min(n_chars) AS b_min, max(n_chars) AS b_max
        FROM documents CROSS JOIN qs
        GROUP BY 1
      """)
    ),
    // Percentile outlier gate (the length-filter every corpus prep
    // runs): keep documents whose n_chars sits inside the exact
    // [p1, p99] band. The percentile pair is one 1-row aggregate
    // broadcast to a scan-local filter; at 100 TB swap the exact
    // percentile for the GK sketch already registered as
    // q_agg_approx_percentiles — the plan shape is unchanged.
    // Bounds round to 4 decimals on both engines so the comparison
    // classifies boundary rows identically.
    QueryDef(
      "q_quality_outlier_filter",
      (s, dir) => {
        val t = tables(s, dir)
        val pcts = t.documents.agg(
          round(expr("percentile(n_chars, 0.01)"), 4).as("p_lo"),
          round(expr("percentile(n_chars, 0.99)"), 4).as("p_hi"))
        t.documents
          .crossJoin(broadcast(pcts))
          .filter(col("n_chars") >= col("p_lo") && col("n_chars") <= col("p_hi"))
          .select(col("doc_id"), col("n_chars"), col("p_lo"), col("p_hi"))
      },
      Some("""
        WITH pcts AS (
          SELECT round(quantile_cont(n_chars, 0.01), 4) AS p_lo,
                 round(quantile_cont(n_chars, 0.99), 4) AS p_hi
          FROM documents
        )
        SELECT doc_id, n_chars, p_lo, p_hi
        FROM documents CROSS JOIN pcts
        WHERE n_chars >= p_lo AND n_chars <= p_hi
      """)
    ),
    // Deterministic Bernoulli sampling: keep ~20% of documents by a
    // hash of the key. Scan-local (no shuffle, no state, no rand()
    // nondeterminism across retries) — the only sampling shape that is
    // exactly reproducible on a 1000-executor re-run.
    QueryDef(
      "q_sample_bernoulli",
      (s, dir) => {
        val t = tables(s, dir)
        t.documents
          .withColumn("bucket", mix(col("doc_id")) % 5)
          .filter(col("bucket") === 0)
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some(s"""
        SELECT doc_id, lang, source FROM documents
        WHERE ${mixSql("doc_id")} % 5 = 0
      """)
    ),
    // Deterministic train/val/test split: the assignment is a pure
    // function of the doc key (not of partitioning, ordering or
    // cluster size), so every retry and every engine produces the
    // SAME split — the reproducibility property an eval-contamination
    // audit needs. 90/5/5 via one hash bucket per row, scan-local;
    // the per-(lang, split) census is the auditable artifact.
    QueryDef(
      "q_split_train_val_test",
      (s, dir) => {
        val t = tables(s, dir)
        val bucket = mix(col("doc_id")) % 100
        t.documents
          .withColumn("split",
            when(bucket < 90, "train")
              .when(bucket < 95, "val")
              .otherwise("test"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars_total"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
      },
      Some(s"""
        SELECT lang,
               CASE WHEN ${mixSql("doc_id")} % 100 < 90 THEN 'train'
                    WHEN ${mixSql("doc_id")} % 100 < 95 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
               min(doc_id) AS min_doc, max(doc_id) AS max_doc
        FROM documents
        GROUP BY 1, 2
      """)
    ),
    // Weighted sampling WITHOUT replacement — sequential Poisson
    // sampling (Ohlsson 1998, the published order-sampling design):
    // priority = u / w with u uniform; the k smallest priorities are
    // the sample, inclusion probability ∝ w. Here u = mix(doc_id)+1
    // (deterministic hash-uniform), so the sample is a pure function
    // of the corpus; the priority is one exact-integer division — the
    // SAME IEEE op in both engines, so ordering (and the top-k cut)
    // is bit-identical. Global top-k is a sort-limit (TakeOrdered at
    // scale — no full sort).
    QueryDef(
      "q_sample_weighted",
      (s, dir) => {
        val t = tables(s, dir)
        val w = when(col("lang") === "en", 4.0)
          .when(col("lang") === "de", 2.0)
          .otherwise(1.0)
        t.documents
          .withColumn("priority",
            (mix(col("doc_id")) + lit(1L)).cast("double") / w)
          .orderBy(col("priority"), col("doc_id"))
          .limit(100)
          .select(col("doc_id"), col("lang"), col("priority"))
      },
      Some(s"""
        SELECT doc_id, lang, priority FROM (
          SELECT doc_id, lang,
                 CAST(${mixSql("doc_id")} + 1 AS DOUBLE) /
                   (CASE WHEN lang = 'en' THEN 4.0
                         WHEN lang = 'de' THEN 2.0 ELSE 1.0 END) AS priority
          FROM documents
        )
        ORDER BY priority, doc_id
        LIMIT 100
      """)
    ),
    // Stratified (domain-mixing) sampling: per-language keep rates —
    // downsample the dominant language, keep the tails. Rates are a
    // tiny CASE map evaluated per row; still scan-local.
    QueryDef(
      "q_sample_stratified",
      (s, dir) => {
        val t = tables(s, dir)
        val bucket = mix(col("doc_id")) % 100
        val rate = when(col("lang") === "en", lit(10L)).otherwise(lit(30L))
        t.documents
          .withColumn("bucket", bucket)
          .filter(col("bucket") < rate)
          .select(col("doc_id"), col("lang"), col("bucket"))
      },
      Some(s"""
        SELECT doc_id, lang, ${mixSql("doc_id")} % 100 AS bucket
        FROM documents
        WHERE ${mixSql("doc_id")} % 100 <
              CASE WHEN lang = 'en' THEN 10 ELSE 30 END
      """)
    ),
    // Deterministic reservoir: exactly k docs per stratum, chosen by
    // hash order. One ranking shuffle partitioned BY STRATUM — each
    // stratum's top-k runs parallel and spill-safe (this is top-k per
    // group, not a global sort).
    QueryDef(
      "q_sample_reservoir",
      (s, dir) => {
        val t = tables(s, dir)
        val w = Window.partitionBy(col("lang")).orderBy(col("m"), col("doc_id"))
        t.documents
          .withColumn("m", mix(col("doc_id")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .select(col("lang"), col("doc_id"), col("rn"))
      },
      Some(s"""
        SELECT lang, doc_id, rn FROM (
          SELECT lang, doc_id,
                 CAST(row_number() OVER (PARTITION BY lang
                      ORDER BY ${mixSql("doc_id")}, doc_id) AS INT) AS rn
          FROM documents)
        WHERE rn <= 20
      """)
    ),
    // Token-budget mixture sampling: the data-mixing step of a training
    // run — each (lang, source) cell contributes documents until its
    // token budget fills, in deterministic hash order so the mixture is
    // reproducible across runs and engines. One shuffle on the cell
    // key, a running sum within each cell, rows beyond the budget
    // pruned — a cell is never collected whole anywhere. The budget
    // currency is whitespace tokens, same as q_text_tokens.
    QueryDef(
      "q_mix_token_budget",
      (s, dir) => {
        val t = tables(s, dir)
        val budget = when(col("lang") === "en", lit(300L)).otherwise(lit(150L))
        val w = Window.partitionBy(col("lang"), col("source"))
          .orderBy(col("m"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t.documents
          .withColumn("m", mix(col("doc_id")))
          .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
          .withColumn("cum_tok", sum(col("n_tok")).over(w))
          .filter(col("cum_tok") <= budget)
          .select(col("lang"), col("source"), col("doc_id"),
            col("n_tok"), col("cum_tok"))
      },
      Some(s"""
        SELECT lang, source, doc_id, n_tok, cum_tok FROM (
          SELECT lang, source, doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 CAST(sum(len(string_split(text, ' '))) OVER (
                   PARTITION BY lang, source
                   ORDER BY ${mixSql("doc_id")}, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tok
          FROM documents)
        WHERE cum_tok <= CASE WHEN lang = 'en' THEN 300 ELSE 150 END
      """)
    ),
    // Last-touch attribution: every purchase attributed to the user's
    // most recent non-purchase event within a 24h lookback, else
    // 'organic' — the conversion-analytics shape, and a reuse of the
    // as-of join machinery (plans.AsOfJoin: ONE shuffle on the user
    // key + a per-key ordered window, never a per-row lookup) on a
    // same-table self-attribution. (user, ts) is unique in the events
    // stream, so the as-of pick needs no extra tiebreak.
    QueryDef(
      "q_attribution_last_touch",
      (s, dir) => {
        val t = tables(s, dir)
        val e = t.events.select(col("user_id"), col("event_id"),
          col("event_type"), expr("unix_micros(ts)").as("us"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("us"))
        val sources = e.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("us"),
            col("event_type").as("src_type"), col("us").as("src_us"))
        // left outer: a purchase with NO preceding source has a null
        // src_us, so both conditions below are null and it is organic
        val joined = graft.plans.AsOfJoin.join(
          purchases, sources, key = "user_id", time = "us",
          rightCols = Seq("src_type", "src_us"), leftOuter = true)
        val lookbackUs = 24L * 3600 * 1000000
        joined.select(col("event_id"), col("user_id"),
          when(col("us") - col("src_us") <= lookbackUs, col("src_type"))
            .otherwise(lit("organic")).as("attributed_to"),
          when(col("us") - col("src_us") <= lookbackUs,
            expr("(us - src_us) DIV 1000000")).as("age_s"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS us
          FROM events
        ),
        p AS (SELECT user_id, event_id, us FROM e
              WHERE event_type = 'purchase'),
        src AS (SELECT user_id, event_type, us FROM e
                WHERE event_type != 'purchase'),
        ranked AS (
          SELECT p.event_id, p.user_id, p.us,
                 s.event_type AS src_type, s.us AS src_us,
                 row_number() OVER (PARTITION BY p.event_id
                                    ORDER BY s.us DESC) AS rn
          FROM p JOIN src s
            ON s.user_id = p.user_id AND s.us <= p.us
        ),
        att AS (
          SELECT event_id, user_id,
                 CASE WHEN us - src_us <= 86400000000
                      THEN src_type ELSE 'organic' END AS attributed_to,
                 CASE WHEN us - src_us <= 86400000000
                      THEN (us - src_us) // 1000000 END AS age_s
          FROM ranked WHERE rn = 1
        )
        SELECT p.event_id, p.user_id,
               'organic' AS attributed_to, CAST(NULL AS BIGINT) AS age_s
        FROM p LEFT JOIN att ON att.event_id = p.event_id
        WHERE att.event_id IS NULL
        UNION ALL
        SELECT event_id, user_id, attributed_to, age_s FROM att
      """)
    ),
    // Behavioral sequence extraction (the "user journey" corpus a
    // sequence model trains on): sessionize each user's events by a
    // 30-minute inactivity gap — lag + cumulative new-session flags,
    // one window pass, no state — then emit each session as an ordered
    // event_type string. Ordering ties break on event_id, so the
    // emitted corpus is deterministic; all arithmetic is integer µs.
    QueryDef(
      "q_sessions_sequences",
      (s, dir) => {
        val t = tables(s, dir)
        val gapUs = 30L * 60 * 1000000
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val e = t.events.select(
          col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
          .withColumn("new_sess",
            when(col("us") - lag(col("us"), 1).over(wOrd) > gapUs ||
              lag(col("us"), 1).over(wOrd).isNull, 1L).otherwise(0L))
          .withColumn("session_id",
            sum(col("new_sess")).over(
              wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        e.groupBy(col("user_id"), col("session_id"))
          .agg(
            count(lit(1)).as("n_events"),
            min(col("us")).as("start_us"),
            array_join(
              transform(
                array_sort(collect_list(
                  struct(col("us"), col("event_id"), col("event_type")))),
                x => x.getField("event_type")),
              ">").as("seq"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS us
          FROM events
        ),
        flagged AS (
          SELECT *,
                 CASE WHEN us - lag(us) OVER w > 1800000000
                        OR lag(us) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_sess
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        sess AS (
          SELECT *,
                 CAST(sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS session_id
          FROM flagged
        )
        SELECT user_id, session_id,
               count(*) AS n_events,
               min(us) AS start_us,
               string_agg(event_type, '>' ORDER BY us, event_id) AS seq
        FROM sess GROUP BY user_id, session_id
      """)
    ),
    // Time-series densification: per-user hourly grid between the
    // user's first and last event, gap-filled by LOCF (the resample +
    // forward-fill every feature/metrics pipeline runs before window
    // models). Hour buckets are exact integer µs division; the
    // per-hour representative is the argmax by (event time, event_id)
    // — a selected data value, so the fill is engine-exact with no
    // float summation anywhere. Scale shape: grid = one explode of a
    // per-user [h0, h1] sequence (bounded by span, not corpus), fill =
    // one window per user — no global sort, no driver time loop.
    QueryDef(
      "q_timeseries_densify",
      (s, dir) => {
        val t = tables(s, dir)
        // r22 (guide §2.4 "share one exchange" + §2.5): every operator
        // here — the per-(user,h) argmax, the per-user span aggregate,
        // the grid⋈obs join and the LOCF window — clusters on user_id,
        // so ONE explicit user_id exchange up front serves all four
        // (HashPartitioning(user_id) satisfies each ClusteredDistribution
        // and both join sides are co-partitioned): 4 exchanges → 1,
        // reused by both aggregates. The count is pinned
        // (numShufflePartitions, deployment-sized) because the
        // downstream grid explode + window is per-row CPU that AQE's
        // byte-based coalescing had folded to 1-2 tasks (profiled:
        // final stage 1 task × 0.5 s on 32 cores).
        val e = t.events.select(
          col("user_id"),
          expr("unix_micros(ts) DIV 3600000000").as("h"),
          expr("unix_micros(ts)").as("us"),
          col("event_id"), col("value"))
          .repartition(
            s.sessionState.conf.numShufflePartitions, col("user_id"))
        val obs = e.groupBy(col("user_id"), col("h"))
          .agg(max(struct(col("us"), col("event_id"), col("value")))
            .getField("value").as("v"))
        val grid = e.groupBy(col("user_id"))
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"))).as("h"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(obs, Seq("user_id", "h"), "left")
          .select(col("user_id"), col("h"),
            col("v").isNotNull.as("observed"),
            last(col("v"), ignoreNulls = true).over(w).as("value_fill"))
      },
      Some("""
        WITH e AS (
          SELECT user_id,
                 epoch_us(ts) // 3600000000 AS h,
                 epoch_us(ts) AS us, event_id, value
          FROM events
        ),
        obs AS (
          SELECT user_id, h, value AS v FROM (
            SELECT user_id, h, value,
                   row_number() OVER (
                     PARTITION BY user_id, h
                     ORDER BY us DESC, event_id DESC) AS rn
            FROM e) WHERE rn = 1
        ),
        grid AS (
          SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM (
            SELECT user_id, min(h) AS h0, max(h) AS h1
            FROM e GROUP BY user_id)
        )
        SELECT g.user_id, g.h,
               o.v IS NOT NULL AS observed,
               last_value(o.v IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS value_fill
        FROM grid g LEFT JOIN obs o
          ON o.user_id = g.user_id AND o.h = g.h
      """)
    ),
    // Distribution-drift audit (PSI — population stability index, the
    // standard "did this slice shift?" gate between a reference corpus
    // and a new batch): equi-width bins over broadcast global bounds,
    // per-slice bin shares with +1 Laplace smoothing (PSI is undefined
    // on empty bins), psi = Σ (p-q)·ln(p/q). Bin counts are exact
    // integers; the per-bin term is identical IEEE arithmetic, and the
    // final Σ runs over a fixed ORDERED bin list (sort_array before
    // aggregate) so the summation order is engine-independent.
    QueryDef(
      "q_profile_drift_psi",
      (s, dir) => {
        val t = tables(s, dir)
        val nBins = 10
        val docs = t.documents.select(col("lang"), col("n_chars"))
        val bounds = docs.agg(
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
        val binned = docs.crossJoin(broadcast(bounds))
          .withColumn("bin",
            least(lit(nBins - 1),
              floor((col("n_chars") - col("lo")) * nBins /
                (col("hi") - col("lo") + 1)).cast("int")))
          .withColumn("slice",
            when(col("lang") === "en", "ref").otherwise("new"))
          .groupBy(col("bin"))
          .agg(
            sum(when(col("slice") === "ref", 1L).otherwise(0L)).as("c_ref"),
            sum(when(col("slice") === "new", 1L).otherwise(0L)).as("c_new"))
        val tot = binned.agg(
          sum(col("c_ref")).as("t_ref"), sum(col("c_new")).as("t_new"))
        binned.crossJoin(broadcast(tot))
          .withColumn("p", (col("c_ref") + 1).cast("double") /
            (col("t_ref") + lit(nBins)).cast("double"))
          .withColumn("q", (col("c_new") + 1).cast("double") /
            (col("t_new") + lit(nBins)).cast("double"))
          .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
          .agg(
            round(aggregate(
              sort_array(collect_list(struct(col("bin"), col("term")))),
              lit(0.0),
              (acc, x) => acc + x.getField("term")), 6).as("psi"),
            count(lit(1)).cast("long").as("n_bins"))
      },
      Some("""
        WITH d AS (SELECT lang, n_chars FROM documents),
        b AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM d),
        binned AS (
          SELECT least(9, CAST(floor((n_chars - lo) * 10 /
                   (hi - lo + 1)) AS INT)) AS bin,
                 CASE WHEN lang = 'en' THEN 'ref' ELSE 'new' END AS slice
          FROM d CROSS JOIN b
        ),
        counts AS (
          SELECT bin,
                 count(*) FILTER (WHERE slice = 'ref') AS c_ref,
                 count(*) FILTER (WHERE slice = 'new') AS c_new
          FROM binned GROUP BY bin
        ),
        tot AS (SELECT sum(c_ref) AS t_ref, sum(c_new) AS t_new FROM counts),
        terms AS (
          SELECT bin,
                 (CAST(c_ref + 1 AS DOUBLE) / CAST(t_ref + 10 AS DOUBLE)) AS p,
                 (CAST(c_new + 1 AS DOUBLE) / CAST(t_new + 10 AS DOUBLE)) AS q
          FROM counts CROSS JOIN tot
        ),
        ordered AS (SELECT bin, (p - q) * ln(p / q) AS term
                    FROM terms ORDER BY bin)
        SELECT round(sum(term ORDER BY bin), 6) AS psi,
               count(*) AS n_bins
        FROM ordered
      """)
    ),
    // Quantile (rank) normalization — the feature transform that maps
    // a skewed numeric column onto [0,1] by empirical CDF position,
    // per group: percent_rank over the group's value order. Ties share
    // a rank, so the output is deterministic without a tiebreak, and
    // (rank-1)/(n-1) is one integer-ratio division — engine-exact.
    // One window per group; at 100 TB swap the exact rank for
    // DistributedRank + broadcast group counts, same output.
    QueryDef(
      "q_normalize_quantile",
      (s, dir) => {
        val t = tables(s, dir)
        val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
        t.events.select(col("event_id"), col("event_type"), col("value"))
          .withColumn("q", percent_rank().over(w))
      },
      Some("""
        SELECT event_id, event_type, value,
               percent_rank() OVER (
                 PARTITION BY event_type ORDER BY value) AS q
        FROM events
      """)
    ),
    // Referential-integrity audit (the FK census an ingest runs before
    // trusting joins downstream): for each declared FK edge, count
    // orphans via LEFT ANTI join — the dimension side broadcasts when
    // small, the fact side streams once per edge, nothing materializes
    // but the counts. Null keys are counted separately from dangling
    // ones (an anti join conflates them otherwise).
    QueryDef(
      "q_audit_referential",
      (s, dir) => {
        val t = tables(s, dir)
        def audit(name: String, fact: org.apache.spark.sql.DataFrame,
            key: String, dim: org.apache.spark.sql.DataFrame,
            ref: String) = {
          val nulls = fact.filter(col(key).isNull)
            .agg(count(lit(1)).as("n")).select(
              lit(name).as("fk"), lit("null_key").as("kind"), col("n"))
          val orphans = fact.filter(col(key).isNotNull)
            .join(dim, fact(key) === dim(ref), "left_anti")
            .agg(count(lit(1)).as("n")).select(
              lit(name).as("fk"), lit("orphan").as("kind"), col("n"))
          nulls.unionByName(orphans)
        }
        audit("orders.custkey", t.orders, "o_custkey", t.customer, "c_custkey")
          .unionByName(audit("lineitem.orderkey",
            t.lineitem, "l_orderkey", t.orders, "o_orderkey"))
          .unionByName(audit("lineitem.partkey",
            t.lineitem, "l_partkey", t.part, "p_partkey"))
          .unionByName(audit("lineitem.suppkey",
            t.lineitem, "l_suppkey", t.supplier, "s_suppkey"))
          .unionByName(audit("events.userkey",
            t.events, "user_id", t.customer, "c_custkey"))
      },
      Some("""
        SELECT 'orders.custkey' AS fk, 'null_key' AS kind,
               count(*) FILTER (WHERE o_custkey IS NULL) AS n FROM orders
        UNION ALL
        SELECT 'orders.custkey', 'orphan', count(*)
        FROM orders WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer)
        UNION ALL
        SELECT 'lineitem.orderkey', 'null_key',
               count(*) FILTER (WHERE l_orderkey IS NULL) FROM lineitem
        UNION ALL
        SELECT 'lineitem.orderkey', 'orphan', count(*)
        FROM lineitem WHERE l_orderkey IS NOT NULL
          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        UNION ALL
        SELECT 'lineitem.partkey', 'null_key',
               count(*) FILTER (WHERE l_partkey IS NULL) FROM lineitem
        UNION ALL
        SELECT 'lineitem.partkey', 'orphan', count(*)
        FROM lineitem WHERE l_partkey IS NOT NULL
          AND l_partkey NOT IN (SELECT p_partkey FROM part)
        UNION ALL
        SELECT 'lineitem.suppkey', 'null_key',
               count(*) FILTER (WHERE l_suppkey IS NULL) FROM lineitem
        UNION ALL
        SELECT 'lineitem.suppkey', 'orphan', count(*)
        FROM lineitem WHERE l_suppkey IS NOT NULL
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
        UNION ALL
        SELECT 'events.userkey', 'null_key',
               count(*) FILTER (WHERE user_id IS NULL) FROM events
        UNION ALL
        SELECT 'events.userkey', 'orphan', count(*)
        FROM events WHERE user_id IS NOT NULL
          AND user_id NOT IN (SELECT c_custkey FROM customer)
      """)
    ),
    // OHLC bar aggregation (the financial/metrics downsample): per
    // (user, hour) open/high/low/close/volume where open/close are
    // argmin/argmax by (event time, event_id) — selected data values,
    // engine-exact — and high/low/volume are order-free aggregates.
    // One groupBy with map-side partials; no window, no sort.
    QueryDef(
      "q_timeseries_ohlc",
      (s, dir) => {
        val t = tables(s, dir)
        t.events.select(
          col("user_id"),
          expr("unix_micros(ts) DIV 3600000000").as("h"),
          expr("unix_micros(ts)").as("us"),
          col("event_id"), col("value"))
          .groupBy(col("user_id"), col("h"))
          .agg(
            min(struct(col("us"), col("event_id"), col("value")))
              .getField("value").as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max(struct(col("us"), col("event_id"), col("value")))
              .getField("value").as("close"),
            count(lit(1)).as("volume"))
      },
      Some("""
        WITH e AS (
          SELECT user_id,
                 epoch_us(ts) // 3600000000 AS h,
                 epoch_us(ts) AS us, event_id, value
          FROM events
        )
        , ranked AS (
          SELECT user_id, h, value,
                 row_number() OVER (PARTITION BY user_id, h
                                    ORDER BY us, event_id) AS rna,
                 row_number() OVER (PARTITION BY user_id, h
                                    ORDER BY us DESC, event_id DESC) AS rnd
          FROM e
        )
        SELECT user_id, h,
               max(CASE WHEN rna = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rnd = 1 THEN value END) AS close,
               count(*) AS volume
        FROM ranked GROUP BY user_id, h
      """)
    ),
    // Session transition matrix (the Markov view of the journey
    // corpus): count every consecutive event-type pair WITHIN a
    // session — lag over the same session window as
    // q_sessions_sequences — and normalize per source state. Counts
    // are exact integers; the probability rounds a single division.
    QueryDef(
      "q_sessions_transitions",
      (s, dir) => {
        val t = tables(s, dir)
        val gapUs = 30L * 60 * 1000000
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val e = t.events.select(
          col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
          .withColumn("new_sess",
            when(col("us") - lag(col("us"), 1).over(wOrd) > gapUs ||
              lag(col("us"), 1).over(wOrd).isNull, 1L).otherwise(0L))
          .withColumn("session_id",
            sum(col("new_sess")).over(
              wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val wSess = Window.partitionBy(col("user_id"), col("session_id"))
          .orderBy(col("us"), col("event_id"))
        val pairs = e
          .withColumn("prev_type", lag(col("event_type"), 1).over(wSess))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type").as("from_type"),
            col("event_type").as("to_type"))
          .agg(count(lit(1)).as("cnt"))
        val wFrom = Window.partitionBy(col("from_type"))
        pairs
          .withColumn("total", sum(col("cnt")).over(wFrom))
          .select(col("from_type"), col("to_type"), col("cnt"),
            round(col("cnt") / col("total"), 6).as("p"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS us
          FROM events
        ),
        flagged AS (
          SELECT *,
                 CASE WHEN us - lag(us) OVER w > 1800000000
                        OR lag(us) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_sess
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        sess AS (
          SELECT *,
                 CAST(sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS session_id
          FROM flagged
        ),
        pairs AS (
          SELECT lag(event_type) OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY us, event_id) AS from_type,
                 event_type AS to_type
          FROM sess
        ),
        counted AS (
          SELECT from_type, to_type, count(*) AS cnt
          FROM pairs WHERE from_type IS NOT NULL
          GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, cnt,
               round(cnt / CAST(sum(cnt) OVER (PARTITION BY from_type)
                              AS DOUBLE), 6) AS p
        FROM counted
      """)
    ),
    // Linear-interpolation resample — the densify grid with gaps
    // filled by lerp between the surrounding observations instead of
    // LOCF (trailing gaps fall back to LOCF). Four IGNORE-NULLS
    // windows fetch (prev value, prev hour, next value, next hour);
    // the lerp is per-row IEEE arithmetic written identically on both
    // engines, so even the float path is exact.
    QueryDef(
      "q_timeseries_interpolate",
      (s, dir) => {
        val t = tables(s, dir)
        val e = t.events.select(
          col("user_id"),
          expr("unix_micros(ts) DIV 3600000000").as("h"),
          expr("unix_micros(ts)").as("us"),
          col("event_id"), col("value"))
        val obs = e.groupBy(col("user_id"), col("h"))
          .agg(max(struct(col("us"), col("event_id"), col("value")))
            .getField("value").as("v"))
        val grid = e.groupBy(col("user_id"))
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"))).as("h"))
        val ord = Window.partitionBy(col("user_id")).orderBy(col("h"))
        val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val hv = when(col("v").isNotNull, col("h"))
        grid.join(obs, Seq("user_id", "h"), "left")
          .withColumn("v0", last(col("v"), ignoreNulls = true).over(back))
          .withColumn("h0", last(hv, ignoreNulls = true).over(back))
          .withColumn("v1", first(col("v"), ignoreNulls = true).over(fwd))
          .withColumn("h1", first(hv, ignoreNulls = true).over(fwd))
          .select(col("user_id"), col("h"),
            col("v").isNotNull.as("observed"),
            // UNROUNDED on purpose: the lerp is the same IEEE ops in
            // the same order on both engines (bit-identical), while
            // round() differs exactly at the half-boundaries the
            // dyadic fractions here keep landing on
            when(col("v").isNotNull, col("v"))
              .when(col("v1").isNull, col("v0"))
              .otherwise(col("v0") + (col("v1") - col("v0")) *
                ((col("h") - col("h0")).cast("double") /
                  (col("h1") - col("h0")).cast("double")))
              .as("value_interp"))
      },
      Some("""
        WITH e AS (
          SELECT user_id,
                 epoch_us(ts) // 3600000000 AS h,
                 epoch_us(ts) AS us, event_id, value
          FROM events
        ),
        obs AS (
          SELECT user_id, h, value AS v FROM (
            SELECT user_id, h, value,
                   row_number() OVER (
                     PARTITION BY user_id, h
                     ORDER BY us DESC, event_id DESC) AS rn
            FROM e) WHERE rn = 1
        ),
        grid AS (
          SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM (
            SELECT user_id, min(h) AS h0, max(h) AS h1
            FROM e GROUP BY user_id)
        ),
        j AS (
          SELECT g.user_id, g.h, o.v,
                 last_value(o.v IGNORE NULLS) OVER w_back AS v0,
                 last_value(CASE WHEN o.v IS NOT NULL THEN g.h END IGNORE NULLS)
                   OVER w_back AS h0,
                 first_value(o.v IGNORE NULLS) OVER w_fwd AS v1,
                 first_value(CASE WHEN o.v IS NOT NULL THEN g.h END IGNORE NULLS)
                   OVER w_fwd AS h1
          FROM grid g LEFT JOIN obs o
            ON o.user_id = g.user_id AND o.h = g.h
          WINDOW
            w_back AS (PARTITION BY g.user_id ORDER BY g.h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            w_fwd AS (PARTITION BY g.user_id ORDER BY g.h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, h,
               v IS NOT NULL AS observed,
               CASE
                 WHEN v IS NOT NULL THEN v
                 WHEN v1 IS NULL THEN v0
                 ELSE v0 + (v1 - v0) *
                   (CAST(h - h0 AS DOUBLE) / CAST(h1 - h0 AS DOUBLE))
               END AS value_interp
        FROM j
      """)
    ),
    // Robust PER-GROUP outlier flagging — the Tukey-fence complement
    // of q_quality_outlier_filter's global [p1,p99] band: each
    // event_type gets its own IQR fences. Quartiles are DISCRETE
    // percentiles — actual data values, so the fences are exact in
    // both engines (a mean/stddev z-score inherits each engine's
    // float-summation order and can flip a threshold row; selection
    // percentiles cannot). One tiny per-type quartile table broadcast
    // back over the scan — no second shuffle, no sort of the fact.
    QueryDef(
      "q_quality_outliers",
      (s, dir) => {
        val t = tables(s, dir)
        val fences = t.events.groupBy(col("event_type")).agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").as("q1"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").as("q3"))
          .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
          .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
        t.events
          .join(broadcast(fences), "event_type")
          .filter(col("value") < col("lo") || col("value") > col("hi"))
          .select(col("event_id"), col("event_type"), col("value"),
            round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"))
      },
      Some("""
        WITH f AS (
          SELECT event_type,
                 percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS q1,
                 percentile_disc(0.75) WITHIN GROUP (ORDER BY value) AS q3
          FROM events GROUP BY event_type
        ),
        g AS (
          SELECT event_type, q1 - 1.5*(q3 - q1) AS lo, q3 + 1.5*(q3 - q1) AS hi
          FROM f
        )
        SELECT e.event_id, e.event_type, e.value,
               round(g.lo, 4) AS lo, round(g.hi, 4) AS hi
        FROM events e JOIN g USING (event_type)
        WHERE e.value < g.lo OR e.value > g.hi
      """)
    ),
    // Temperature-scaled language mixture (the multilingual rebalance:
    // sample share ∝ cnt^α with α=1/2, flattening the head and
    // upsampling tail languages relative to natural frequency). All
    // quota arithmetic is INTEGER — u = floor(sqrt(cnt)), quota =
    // ((N DIV 2)·u) DIV Σu — because a float Σ here is summed in
    // engine-dependent order and one ulp under a floor() flips a
    // quota; selection inside each language is the deterministic
    // mix-hash order. Scale shape: the quota table is one tiny
    // broadcast, selection is one per-language window — no global
    // sort, no collect.
    QueryDef(
      "q_mix_temperature",
      (s, dir) => {
        val t = tables(s, dir)
        val counts = t.documents.groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("u", expr("CAST(floor(sqrt(cnt)) AS BIGINT)"))
        val tot = counts.agg(
          sum(col("u")).as("tu"), sum(col("cnt")).as("n"))
        val quotas = counts.crossJoin(broadcast(tot))
          .withColumn("quota", expr("least(cnt, ((n DIV 2) * u) DIV tu)"))
          .select(col("lang"), col("quota"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("m"), col("doc_id"))
        t.documents
          .join(broadcast(quotas), "lang")
          .withColumn("m", mix(col("doc_id")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= col("quota"))
          .select(col("lang"), col("doc_id"),
            col("quota").cast("long").as("quota"))
      },
      Some(s"""
        WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        u AS (SELECT lang, cnt, CAST(floor(sqrt(cnt)) AS BIGINT) AS u FROM c),
        t AS (SELECT sum(u) AS tu, sum(cnt) AS n FROM u),
        q AS (
          SELECT lang,
                 CAST(least(cnt, ((n // 2) * u) // tu) AS BIGINT) AS quota
          FROM u, t
        ),
        r AS (
          SELECT d.lang, d.doc_id, q.quota,
                 row_number() OVER (
                   PARTITION BY d.lang
                   ORDER BY ${mixSql("d.doc_id")}, d.doc_id) AS rn
          FROM documents d JOIN q USING (lang)
        )
        SELECT lang, doc_id, quota FROM r WHERE rn <= quota
      """)
    ),
    // Distributed global shuffle: the pre-training order randomization.
    // A naive ORDER BY hash is a partitionless sort (single-task at the
    // rank step if expressed as OVER ()); DistributedRank instead
    // range-partitions on the hash, ranks locally, and offsets by
    // broadcast partition counts — every stage parallel.
    QueryDef(
      "q_shuffle_global",
      (s, dir) => {
        val t = tables(s, dir)
        val keyed = t.documents
          .withColumn("m", mix(col("doc_id")))
          .select(col("doc_id"), col("m"))
        val (ranked, _) =
          graft.plans.DistributedRank.globalRank(keyed, "pos", col("m"), col("doc_id"))
        ranked.select(col("doc_id"), col("m"), col("pos").cast("long").as("pos"))
      },
      Some(s"""
        SELECT doc_id, m,
               CAST(row_number() OVER (ORDER BY m, doc_id) AS BIGINT) AS pos
        FROM (SELECT doc_id, ${mixSql("doc_id")} AS m FROM documents)
      """)
    ),
    // Sequence packing: greedy contiguous fill of token-budget windows
    // (2048-token analog at corpus scale; 512 here). Packing is per
    // source shard — the window partitions by `source`, so no global
    // single-task sort exists and shards pack independently, exactly
    // how a sharded corpus prep runs.
    QueryDef(
      "q_pack_sequences",
      (s, dir) => {
        val t = tables(s, dir)
        val base = t.documents.select(
          col("doc_id"),
          col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")
        )
        val w = Window
          .partitionBy(col("source"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        base
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn(
            "seq_id",
            floor((col("cum") - col("n_tokens")) / lit(512L)).cast("long")
          )
          .groupBy(col("source"), col("seq_id"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("seq_tokens")
          )
      },
      Some("""
        WITH base AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents
        ), packed AS (
          SELECT source, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM base
        )
        SELECT source, CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
               count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
        FROM packed GROUP BY 1, 2
      """)
    ),
    // PII scrubbing: regex redaction of emails and phone numbers. The
    // corpus carries no PII, so each row gets a synthesized contact
    // suffix (derived from its key — deterministic) and the scrub must
    // remove exactly that. Pure per-row regex, scan-local; the regexes
    // are RE2-safe (no backreferences) so both engines agree.
    QueryDef(
      "q_pii_scrub",
      (s, dir) => {
        val t = tables(s, dir)
        val synth = concat(
          substring(col("text"), 1, 40),
          lit(" contact u"),
          col("doc_id").cast("string"),
          lit("@ex"),
          pmod(col("doc_id"), lit(7L)).cast("string"),
          lit(".com or call +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")
        )
        t.documents.select(
          col("doc_id"),
          regexp_count(synth, lit(EmailRe)).cast("int").as("n_emails"),
          regexp_count(synth, lit(PhoneRe)).cast("int").as("n_phones"),
          regexp_replace(
            regexp_replace(synth, EmailRe, "[EMAIL]"),
            PhoneRe,
            "[PHONE]"
          ).as("scrubbed")
        )
      },
      Some(s"""
        WITH f AS (
          SELECT doc_id,
                 substring(text, 1, 40) || ' contact u' || CAST(doc_id AS VARCHAR)
                 || '@ex' || CAST(doc_id % 7 AS VARCHAR)
                 || '.com or call +1-555-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS synth
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(synth, '$EmailRe')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(synth, '$PhoneRe')) AS INT) AS n_phones,
               regexp_replace(regexp_replace(synth, '$EmailRe', '[EMAIL]', 'g'),
                              '$PhoneRe', '[PHONE]', 'g') AS scrubbed
        FROM f
      """)
    ),
    // Intra-document repetition: duplicate-token ratio and the hottest
    // single-token frequency — the classic "remove boilerplate /
    // degenerate generations" quality gate. Per-row expression tree
    // (docs are bounded, the distinct×filter scan is O(u·n) per row),
    // zero shuffle.
    QueryDef(
      "q_text_repetition",
      (s, dir) => {
        val t = tables(s, dir)
        val words = split(col("text"), " ")
        val dupRatio = round(
          lit(1.0) - size(array_distinct(words)).cast("double") / size(words),
          6
        )
        t.documents.select(
          col("doc_id"),
          size(words).as("n_tokens"),
          dupRatio.as("dup_ratio"),
          array_max(
            transform(array_distinct(words), w => size(filter(words, x => x === w)))
          ).as("top_tok_freq"),
          (dupRatio >= 0.6).as("repetitive")
        )
      },
      Some("""
        WITH f AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        SELECT doc_id,
               CAST(len(l) AS INT) AS n_tokens,
               round(1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l), 6)
                 AS dup_ratio,
               CAST(list_max(list_transform(list_distinct(l),
                    w -> len(list_filter(l, x -> x = w)))) AS INT) AS top_tok_freq,
               round(1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l), 6) >= 0.6
                 AS repetitive
        FROM f
      """)
    ),
    // Dedup against a reference corpus via Bloom prefilter + exact
    // confirm. The filter is built distributed on the "already seen"
    // side (OR-merged bitset; driver holds only the final bits) and
    // ships to every task: definite non-members pass with zero shuffle,
    // and only the tiny might-contain remainder pays the exact
    // anti-join. False positives cannot leak — the confirm join makes
    // the result exact, so the oracle is a plain NOT EXISTS.
    QueryDef(
      "q_dedup_bloom_prefilter",
      (s, dir) => {
        graft.functions.BloomExpressions.register(s)
        val t = tables(s, dir)
        val ref = t.documents
          .filter(pmod(col("doc_id"), lit(7L)) === 0)
          .select(col("text"))
        val bloom =
          ref.stat.bloomFilter("text", math.max(ref.count(), 1L), 0.03)
        val batch = t.documents.filter(pmod(col("doc_id"), lit(7L)) =!= 0)
        val flagged = batch.withColumn(
          "__maybe",
          graft.functions.BloomExpressions.bloom_might_contain(col("text"), bloom)
        )
        val definiteNew = flagged.filter(!col("__maybe"))
        val confirmedNew = flagged
          .filter(col("__maybe"))
          .join(ref, Seq("text"), "left_anti")
        definiteNew
          .unionByName(confirmedNew)
          .select(col("doc_id"), col("lang"))
      },
      Some("""
        SELECT d.doc_id, d.lang FROM documents d
        WHERE d.doc_id % 7 != 0
          AND NOT EXISTS (SELECT 1 FROM documents r
                          WHERE r.doc_id % 7 = 0 AND r.text = d.text)
      """)
    ),
    // Train/eval decontamination: flag training documents sharing
    // 3-gram shingles with a benchmark set — the n-gram-overlap
    // decontamination every LLM corpus runs before training. Shape is
    // an inverted-index join (explode shingles, equi-join on the
    // shingle, re-aggregate per doc): both sides stay distributed, the
    // benchmark side is deduped before the join, and AQE picks
    // broadcast when the benchmark index is small.
    QueryDef(
      "q_decontaminate",
      (s, dir) => {
        graft.functions.SketchExpressions.register(s)
        val t = tables(s, dir)
        val sh = t.documents
          .select(
            col("doc_id"),
            graft.functions.SketchExpressions.word_shingles(col("text")).as("shingles")
          )
          .filter(size(col("shingles")) > 0)
        val bench = sh
          .filter(pmod(col("doc_id"), lit(13L)) === 0)
          .select(explode(col("shingles")).as("sh"))
          .distinct()
        val train = sh
          .filter(pmod(col("doc_id"), lit(13L)) =!= 0)
          .select(
            col("doc_id"),
            size(col("shingles")).as("sz"),
            explode(col("shingles")).as("sh")
          )
        val ratio = round(col("n_shared").cast("double") / col("sz"), 6)
        train
          .join(bench, "sh")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared"), first(col("sz")).as("sz"))
          .select(
            col("doc_id"),
            col("n_shared"),
            ratio.as("overlap_ratio"),
            (ratio >= 0.5).as("contaminated")
          )
      },
      Some(s"""
        WITH sh AS (
          ${graft.operators.Murmur3Sql.shingleSelect}
        ), bench AS (
          SELECT DISTINCT unnest(shingles) AS sh FROM sh
          WHERE doc_id % 13 = 0 AND len(shingles) > 0
        ), train AS (
          SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS sh FROM sh
          WHERE doc_id % 13 != 0 AND len(shingles) > 0
        )
        SELECT doc_id, count(*) AS n_shared,
               round(count(*) * 1.0 / any_value(sz), 6) AS overlap_ratio,
               round(count(*) * 1.0 / any_value(sz), 6) >= 0.5 AS contaminated
        FROM train JOIN bench USING (sh)
        GROUP BY doc_id
      """)
    ),
    // Fuzzy decontamination: the MinHash-banded counterpart of
    // q_decontaminate — paraphrased/near-verbatim benchmark leakage
    // that exact n-gram overlap underestimates. Candidates come from
    // band-bucket collisions, verification is exact set overlap on
    // both Jaccard and benchmark containment. Hash-oracled since round
    // 18: Murmur3Sql replays the murmur3 signature hash, so the
    // banding candidate set is deterministic provenance the oracle
    // reproduces (DedupSimilaritySpec keeps the precision/recall-region
    // claims vs an exact all-pairs sweep).
    QueryDef(
      "q_decontaminate_fuzzy",
      (s, dir) => {
        graft.functions.SketchExpressions.register(s)
        val t = tables(s, dir)
        val sh = t.documents
          .select(
            col("doc_id"),
            graft.functions.SketchExpressions.word_shingles(col("text")).as("shingles")
          )
          .filter(size(col("shingles")) > 0)
        val bench = sh.filter(pmod(col("doc_id"), lit(13L)) === 0)
        val corpus = sh.filter(pmod(col("doc_id"), lit(13L)) =!= 0)
        MinHashLsh.contaminated(corpus, bench, 0.8)
      },
      Some(s"""
        WITH sh AS (
          ${graft.operators.Murmur3Sql.shingleSelect}
        ),
        shf AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
        ${graft.operators.Murmur3Sql.minhashBandCtes},
        bandc AS (SELECT * FROM bands WHERE doc_id % 13 != 0),
        bandb AS (SELECT doc_id AS bench_id, band, bkey FROM bands
                  WHERE doc_id % 13 = 0),
        hot AS (SELECT band, bkey FROM bandc
                GROUP BY 1, 2 HAVING count(*) > ${graft.operators.MinHashLsh.MaxBucketSize}),
        cand AS (
          SELECT DISTINCT c.doc_id, b.bench_id
          FROM (SELECT x.* FROM bandc x
                ANTI JOIN hot h ON x.band = h.band AND x.bkey = h.bkey) c
          JOIN bandb b ON c.band = b.band AND c.bkey = b.bkey),
        ver AS (
          SELECT c.doc_id, c.bench_id,
                 len(list_intersect(s1.shingles, s2.shingles)) * 1.0 AS inter,
                 len(s1.shingles) AS sz1, len(s2.shingles) AS szb
          FROM cand c JOIN shf s1 ON s1.doc_id = c.doc_id
                      JOIN shf s2 ON s2.doc_id = c.bench_id),
        scorepass AS (
          SELECT doc_id,
                 round(inter / ((sz1 + szb) - inter), 6) AS jaccard,
                 round(inter / szb, 6) AS containment
          FROM ver
          WHERE round(inter / ((sz1 + szb) - inter), 6) >= 0.8
             OR round(inter / szb, 6) >= 0.8)
        SELECT doc_id, count(*) AS n_bench_hits,
               max(jaccard) AS max_jaccard, max(containment) AS max_containment
        FROM scorepass GROUP BY doc_id
      """)
    ),
    // Z-order (Morton) layout stats: quantize two dimensions onto an
    // 8-bit grid against broadcast 1-row bounds, interleave the bits,
    // and report per-Z-bucket counts + min/max of BOTH dims. Narrow
    // per-bucket ranges on both columns are exactly what makes parquet
    // footer stats skip files for predicates on either dimension at
    // 100 TB (the Delta/Iceberg OPTIMIZE ZORDER technique) — the write
    // path is repartitionByRange(zvalue); this query is the layout's
    // verifiable core. All arithmetic is integral, so the oracle is an
    // exact hash match.
    QueryDef(
      "q_layout_zorder",
      (s, dir) => {
        import graft.functions.ZOrder
        val t = tables(s, dir)
        val li = t.lineitem.select(
          datediff(col("l_shipdate"), lit(java.sql.Date.valueOf("1992-01-01")))
            .cast("long").as("d_day"),
          col("l_partkey").as("pk")
        )
        val bounds = li.agg(
          min(col("d_day")).as("dmin"), max(col("d_day")).as("dmax"),
          min(col("pk")).as("pmin"), max(col("pk")).as("pmax"))
        li.crossJoin(broadcast(bounds))
          .withColumn("z", ZOrder.interleave(
            ZOrder.quantize(col("d_day"), col("dmin"), col("dmax"), 8),
            ZOrder.quantize(col("pk"), col("pmin"), col("pmax"), 8), 8))
          .groupBy(shiftright(col("z"), 6).as("zbucket"))
          .agg(
            count(lit(1)).as("n"),
            min(col("d_day")).as("min_day"), max(col("d_day")).as("max_day"),
            min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"))
      },
      Some(s"""
        WITH li AS (
          SELECT CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS d_day,
                 l_partkey AS pk
          FROM lineitem
        ), b AS (
          SELECT min(d_day) AS dmin, max(d_day) AS dmax,
                 min(pk) AS pmin, max(pk) AS pmax
          FROM li
        ), z AS (
          SELECT d_day, pk,
                 ${graft.functions.ZOrder.interleaveSql(
                   graft.functions.ZOrder.quantizeSql("d_day", "dmin", "dmax", 8),
                   graft.functions.ZOrder.quantizeSql("pk", "pmin", "pmax", 8),
                   8)} AS zv
          FROM li, b
        )
        SELECT zv // 64 AS zbucket, count(*) AS n,
               min(d_day) AS min_day, max(d_day) AS max_day,
               min(pk) AS min_pk, max(pk) AS max_pk
        FROM z GROUP BY 1
      """)
    ),
    // Three-dimensional Z-order layout stats: the same
    // quantize+interleave against broadcast bounds, across THREE
    // clustering dimensions (ship-day, part, supplier) — the shape a
    // fact table with three hot predicates wants. Integer-exact, so
    // the per-bucket tri-dimension stats hash-match DuckDB.
    QueryDef(
      "q_layout_zorder3",
      (s, dir) => {
        import graft.functions.ZOrder
        val t = tables(s, dir)
        val li = t.lineitem.select(
          datediff(col("l_shipdate"), lit(java.sql.Date.valueOf("1992-01-01")))
            .cast("long").as("d_day"),
          col("l_partkey").as("pk"),
          col("l_suppkey").as("sk")
        )
        val bounds = li.agg(
          min(col("d_day")).as("dmin"), max(col("d_day")).as("dmax"),
          min(col("pk")).as("pmin"), max(col("pk")).as("pmax"),
          min(col("sk")).as("smin"), max(col("sk")).as("smax"))
        li.crossJoin(broadcast(bounds))
          .withColumn("z", ZOrder.interleave3(
            ZOrder.quantize(col("d_day"), col("dmin"), col("dmax"), 6),
            ZOrder.quantize(col("pk"), col("pmin"), col("pmax"), 6),
            ZOrder.quantize(col("sk"), col("smin"), col("smax"), 6), 6))
          .groupBy(shiftright(col("z"), 9).as("zbucket"))
          .agg(
            count(lit(1)).as("n"),
            min(col("d_day")).as("min_day"), max(col("d_day")).as("max_day"),
            min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"),
            min(col("sk")).as("min_sk"), max(col("sk")).as("max_sk"))
      },
      Some(s"""
        WITH li AS (
          SELECT CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS d_day,
                 l_partkey AS pk, l_suppkey AS sk
          FROM lineitem
        ), b AS (
          SELECT min(d_day) AS dmin, max(d_day) AS dmax,
                 min(pk) AS pmin, max(pk) AS pmax,
                 min(sk) AS smin, max(sk) AS smax
          FROM li
        ), z AS (
          SELECT d_day, pk, sk,
                 ${graft.functions.ZOrder.interleave3Sql(
                   graft.functions.ZOrder.quantizeSql("d_day", "dmin", "dmax", 6),
                   graft.functions.ZOrder.quantizeSql("pk", "pmin", "pmax", 6),
                   graft.functions.ZOrder.quantizeSql("sk", "smin", "smax", 6),
                   6)} AS zv
          FROM li, b
        )
        SELECT zv // 512 AS zbucket, count(*) AS n,
               min(d_day) AS min_day, max(d_day) AS max_day,
               min(pk) AS min_pk, max(pk) AS max_pk,
               min(sk) AS min_sk, max(sk) AS max_sk
        FROM z GROUP BY 1
      """)
    ),
    // Hilbert-curve layout stats — same bucket-narrowness shape as
    // q_layout_zorder but along the Hilbert curve (strictly better
    // locality: consecutive positions are always grid-adjacent, so
    // bucket bounding boxes are tighter). The index needs per-level
    // rotation state, so it is not a per-bit shift/add formula like
    // Morton — but the walk IS expressible as a recursive CTE carrying
    // (x, y, d, s) through the 8 levels, run over the ≤ 2^16 DISTINCT
    // quantized cells and joined back: an exact DuckDB oracle.
    // HilbertSpec additionally proves bijection/adjacency/codegen and
    // the write path's per-file narrowness.
    QueryDef(
      "q_layout_hilbert",
      (s, dir) => {
        import graft.functions.{Hilbert, ZOrder}
        Hilbert.register(s)
        val t = tables(s, dir)
        val li = t.lineitem.select(
          datediff(col("l_shipdate"), lit(java.sql.Date.valueOf("1992-01-01")))
            .cast("long").as("d_day"),
          col("l_partkey").as("pk")
        )
        val bounds = li.agg(
          min(col("d_day")).as("dmin"), max(col("d_day")).as("dmax"),
          min(col("pk")).as("pmin"), max(col("pk")).as("pmax"))
        li.crossJoin(broadcast(bounds))
          .withColumn("h", Hilbert.hilbert_index(
            ZOrder.quantize(col("d_day"), col("dmin"), col("dmax"), 8),
            ZOrder.quantize(col("pk"), col("pmin"), col("pmax"), 8), 8))
          .groupBy(shiftright(col("h"), 6).as("hbucket"))
          .agg(
            count(lit(1)).as("n"),
            min(col("d_day")).as("min_day"), max(col("d_day")).as("max_day"),
            min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"))
      },
      Some(s"""
        WITH RECURSIVE li AS (
          SELECT CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS d_day,
                 l_partkey AS pk
          FROM lineitem
        ), b AS (
          SELECT min(d_day) AS dmin, max(d_day) AS dmax,
                 min(pk) AS pmin, max(pk) AS pmax
          FROM li
        ), q AS (
          SELECT d_day, pk,
                 ${graft.functions.ZOrder.quantizeSql("d_day", "dmin", "dmax", 8)} AS qx,
                 ${graft.functions.ZOrder.quantizeSql("pk", "pmin", "pmax", 8)} AS qy
          FROM li, b
        ), cells AS (SELECT DISTINCT qx, qy FROM q),
        walk AS (
          -- the graft.functions.Hilbert.xy2d level walk, one recursion
          -- step per level: d += s^2 * ((3*rx) XOR ry), reflect+swap
          -- the frame when ry = 0, halve s
          SELECT qx, qy, qx AS x, qy AS y,
                 CAST(0 AS BIGINT) AS d, CAST(128 AS BIGINT) AS s
          FROM cells
          UNION ALL
          SELECT qx, qy,
                 CASE WHEN (y & s) = 0
                      THEN CASE WHEN (x & s) > 0 THEN s - 1 - y ELSE y END
                      ELSE x END,
                 CASE WHEN (y & s) = 0
                      THEN CASE WHEN (x & s) > 0 THEN s - 1 - x ELSE x END
                      ELSE y END,
                 d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
                                 (CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END)),
                 s // 2
          FROM walk WHERE s > 0
        ),
        hidx AS (SELECT qx, qy, d AS h FROM walk WHERE s = 0)
        SELECT h // 64 AS hbucket, count(*) AS n,
               min(d_day) AS min_day, max(d_day) AS max_day,
               min(pk) AS min_pk, max(pk) AS max_pk
        FROM q JOIN hidx USING (qx, qy)
        GROUP BY 1
      """)
    ),
    // Epoch upsampling (domain-weighted mixture): rare domains repeat
    // more epochs per training pass. A per-row explode of a tiny
    // sequence — scan-local fan-out, no shuffle, the standard way to
    // materialize mixture weights without a nondeterministic sampler.
    QueryDef(
      "q_sample_upsample",
      (s, dir) => {
        val t = tables(s, dir)
        val epochs = when(col("lang") === "en", lit(1))
          .when(col("lang") === "de", lit(2))
          .otherwise(lit(3))
        t.documents.select(
          col("doc_id"),
          col("lang"),
          explode(sequence(lit(1), epochs)).as("epoch")
        )
      },
      Some("""
        SELECT doc_id, lang,
               CAST(unnest(generate_series(1,
                    CASE WHEN lang = 'en' THEN 1
                         WHEN lang = 'de' THEN 2 ELSE 3 END)) AS INT) AS epoch
        FROM documents
      """)
    ),
    // End-to-end corpus-prep funnel: the composite every real pipeline
    // ships — language allowlist → quality threshold → repetition
    // filter → exact dedup, with per-stage survivor accounting (the
    // "funnel report" that tells you which filter ate your corpus).
    // The dedup stage keys on the document's first 20-word span (the
    // prefix-dedup proxy crawl pipelines use: it catches exact copies
    // AND same-head-different-tail rewraps, and the key is O(1) per
    // doc instead of hashing the whole body).
    // One pass computes all per-row stage flags (scan-local), the dedup
    // winner is a groupBy(content_hash) min + left join back (the only
    // shuffle), and the report is a single aggregate row exploded into
    // one row per stage — no driver-side loop, no repeated scans of the
    // corpus per stage.
    QueryDef(
      "q_corpus_funnel",
      (s, dir) => {
        val t = tables(s, dir)
        val flagged = corpusFlags(t.documents)
        val winners = flagged
          .filter(col("s3"))
          .groupBy(col("dedup_key"))
          .agg(min(col("doc_id")).as("keeper"))
        val agg = flagged
          .join(winners, Seq("dedup_key"), "left")
          .withColumn("s4", col("s3") && col("doc_id") === col("keeper"))
          .agg(
            count(lit(1)).as("n0"),
            count(when(col("s1"), 1)).as("n1"),
            count(when(col("s2"), 1)).as("n2"),
            count(when(col("s3"), 1)).as("n3"),
            count(when(col("s4"), 1)).as("n4")
          )
        agg
          .select(
            explode(
              array(
                struct(lit(1).as("stage"), lit("lang_allowlist").as("filter_name"),
                  col("n0").as("docs_in"), col("n1").as("docs_out")),
                struct(lit(2).as("stage"), lit("quality").as("filter_name"),
                  col("n1").as("docs_in"), col("n2").as("docs_out")),
                struct(lit(3).as("stage"), lit("repetition").as("filter_name"),
                  col("n2").as("docs_in"), col("n3").as("docs_out")),
                struct(lit(4).as("stage"), lit("head_dedup").as("filter_name"),
                  col("n3").as("docs_in"), col("n4").as("docs_out"))
              )
            ).as("r")
          )
          .select(
            col("r.stage").as("stage"),
            col("r.filter_name").as("filter_name"),
            col("r.docs_in").as("docs_in"),
            col("r.docs_out").as("docs_out"),
            (col("r.docs_in") - col("r.docs_out")).as("docs_dropped")
          )
      },
      Some("""
        WITH f AS (
          SELECT doc_id,
                 array_to_string(string_split(text, ' ')[1:20], ' ') AS dedup_key,
                 lang IN ('en', 'de', 'fr') AS f_lang,
                 round(0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0)
                       + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                                / CAST(len(string_split(text, ' ')) AS DOUBLE))
                       + 0.2 * (CAST(len(list_filter(string_split(text, ' '),
                                    w -> w = 'the' OR w = 'a' OR w = 'of' OR w = 'and')) AS DOUBLE)
                                / CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) >= 0.35
                   AS f_quality,
                 round(1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')), 6) < 0.6 AS f_rep
          FROM documents
        ),
        st AS (
          SELECT doc_id, dedup_key, f_lang AS s1,
                 f_lang AND f_quality AS s2,
                 f_lang AND f_quality AND f_rep AS s3
          FROM f
        ),
        w AS (SELECT dedup_key, min(doc_id) AS keeper
              FROM st WHERE s3 GROUP BY 1),
        m AS (SELECT st.*, s3 AND st.doc_id = w.keeper AS s4
              FROM st LEFT JOIN w USING (dedup_key)),
        c AS (SELECT count(*) AS n0,
                     count(*) FILTER (WHERE s1) AS n1,
                     count(*) FILTER (WHERE s2) AS n2,
                     count(*) FILTER (WHERE s3) AS n3,
                     count(*) FILTER (WHERE s4) AS n4
              FROM m)
        SELECT 1 AS stage, 'lang_allowlist' AS filter_name,
               n0 AS docs_in, n1 AS docs_out, n0 - n1 AS docs_dropped FROM c
        UNION ALL SELECT 2, 'quality', n1, n2, n1 - n2 FROM c
        UNION ALL SELECT 3, 'repetition', n2, n3, n2 - n3 FROM c
        UNION ALL SELECT 4, 'head_dedup', n3, n4, n3 - n4 FROM c
      """)
    ),
    // Corpus card: the per-(source, lang) mixture report a training run
    // starts from — document/token counts, exact token-length
    // percentiles, and each cell's share of the corpus token budget.
    // One groupBy over the scan (map-side partials) plus a 1-row
    // broadcast corpus total; the percentile state is per-group, never
    // corpus-wide.
    QueryDef(
      "q_corpus_card",
      (s, dir) => {
        val t = tables(s, dir)
        val base = t.documents.select(
          col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")
        )
        val grouped = base
          .groupBy(col("source"), col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("tokens"),
            round(expr("percentile(n_tokens, 0.5)"), 4).as("p50_tokens"),
            round(expr("percentile(n_tokens, 0.95)"), 4).as("p95_tokens")
          )
        val total = base.agg(sum(col("n_tokens")).as("corpus_tokens"))
        grouped
          .crossJoin(broadcast(total))
          .withColumn("token_share",
            round(col("tokens") / col("corpus_tokens"), 6))
          .drop("corpus_tokens")
      },
      Some("""
        WITH b AS (
          SELECT source, lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents
        ),
        g AS (
          SELECT source, lang, count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS tokens,
                 round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
                 round(quantile_cont(n_tokens, 0.95), 4) AS p95_tokens
          FROM b GROUP BY 1, 2
        ),
        t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS ct FROM b)
        SELECT source, lang, n_docs, tokens, p50_tokens, p95_tokens,
               round(tokens / (SELECT ct FROM t), 6) AS token_share
        FROM g
      """)
    )
  )
}
