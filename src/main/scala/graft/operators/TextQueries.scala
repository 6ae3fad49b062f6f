package graft.operators

import graft.{QueryDef, QueryModule}
import graft.functions.SketchExpressions
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token statistics,
  * quality scoring, marker-based language scoring, and document
  * fingerprinting (rolling hash). All pure per-row expression trees —
  * they run inside whole-stage codegen with no shuffle at all, which
  * is exactly what a 100 TB filter pass needs (read → score → write,
  * one stage).
  */
object TextQueries extends QueryModule {

  private val Mod = 1000000007L

  /** The BM25 scoring CTE chain shared by the q_text_bm25 and
    * q_retrieval_hybrid_rrf oracles — ends with
    * `bm(doc_id, bm25 rounded to 6)`.
    */
  private val Bm25CtesSql = """d AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        dd AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM d),
        stats AS (
          SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
                 CAST(count(*) AS DOUBLE) AS n
          FROM dd
        ),
        tf AS (
          SELECT doc_id, dl, word, count(*) AS tf FROM (
            SELECT doc_id, dl, unnest(w) AS word FROM dd)
          WHERE word IN ('spark', 'batch', 'stream')
          GROUP BY doc_id, dl, word
        ),
        idf AS (
          SELECT word,
                 ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
                   AS idf
          FROM (SELECT word, count(*) AS df FROM tf GROUP BY word)
        ),
        ts AS (
          SELECT tf.doc_id, tf.word,
                 idf.idf * (tf.tf * 2.2) /
                   (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl /
                     (SELECT avgdl FROM stats))) AS term_score
          FROM tf JOIN idf USING (word)
        ),
        bm AS (
          SELECT doc_id, round(sum(term_score ORDER BY word), 6) AS bm25
          FROM ts GROUP BY doc_id
        )"""

  /** Okapi BM25 per-document scores for a fixed query-term set (see
    * q_text_bm25 for the determinism contract: integer-exact avgdl,
    * pinned decimal literals, sorted-term fold, 6-decimal rounding).
    * Shared by the BM25 top-k query and the hybrid-retrieval RRF
    * fusion.
    */
  def bm25Scores(documents: org.apache.spark.sql.DataFrame,
      qTerms: Seq[String]): org.apache.spark.sql.DataFrame = {
    SketchExpressions.register(documents.sparkSession)
    val docs = documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
    val stats = docs
      .agg(sum(col("dl")).as("sdl"), count(lit(1)).as("n"))
      .collect()(0)
    val nDocs = stats.getLong(1)
    val avgdl = stats.getLong(0).toDouble / nDocs.toDouble
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("w")).as("word"))
      .filter(col("word").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
    tf.join(broadcast(idf), "word")
      .withColumn("term_score",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))
      .groupBy(col("doc_id"))
      .agg(round(SketchExpressions.struct_term_sum(
        sort_array(collect_list(struct(col("word"), col("term_score"))))),
        6).as("bm25"))
  }

  def defs: Seq[QueryDef] = Seq(
    // Token counting: whitespace tokens + a regex token pass (the
    // BPE-ish [a-z]+|[0-9]+ split) + distinct counts.
    QueryDef(
      "q_text_tokens",
      (s, dir) => {
        val t = tables(s, dir)
        val words = split(col("text"), " ")
        t.documents.select(
          col("doc_id"),
          size(words).as("n_ws_tokens"),
          size(array_distinct(words)).as("n_uniq_tokens"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+")).as("n_re_tokens"),
          length(col("text")).as("n_chars_actual"),
          (col("n_chars") === length(col("text"))).as("len_matches_meta")
        )
      },
      Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_re_tokens,
               length(text) AS n_chars_actual,
               n_chars = length(text) AS len_matches_meta
        FROM documents
      """)
    ),
    // Quality scoring: length/diversity/stopword features folded into
    // one deterministic score, plus a keep/drop verdict.
    QueryDef(
      "q_text_quality",
      (s, dir) => {
        val t = tables(s, dir)
        val words = split(col("text"), " ")
        val nWords = size(words).cast("double")
        val nUniq = size(array_distinct(words)).cast("double")
        val nStop = size(
          filter(words, w => w.isin("the", "a", "of", "and"))
        ).cast("double")
        val lenScore = least(nWords / lit(50.0), lit(1.0))
        val diversity = nUniq / nWords
        val stopRatio = nStop / nWords
        val score =
          round(lit(0.4) * lenScore + lit(0.4) * diversity + lit(0.2) * stopRatio, 6)
        t.documents.select(
          col("doc_id"),
          col("lang"),
          round(diversity, 6).as("diversity"),
          round(stopRatio, 6).as("stop_ratio"),
          score.as("quality"),
          (score >= 0.35).as("keep")
        )
      },
      Some("""
        WITH f AS (
          SELECT doc_id, lang,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nu,
                 CAST(len(list_filter(string_split(text, ' '),
                      w -> w = 'the' OR w = 'a' OR w = 'of' OR w = 'and')) AS DOUBLE) AS ns
          FROM documents
        )
        SELECT doc_id, lang,
               round(nu / nw, 6) AS diversity,
               round(ns / nw, 6) AS stop_ratio,
               round(0.4 * least(nw / 50.0, 1.0) + 0.4 * (nu / nw)
                     + 0.2 * (ns / nw), 6) AS quality,
               round(0.4 * least(nw / 50.0, 1.0) + 0.4 * (nu / nw)
                     + 0.2 * (ns / nw), 6) >= 0.35 AS keep
        FROM f
      """)
    ),
    // N-gram repetition quality signals (the Gopher/MassiveText rules
    // complementing q_text_repetition's unigram dup-ratio): fraction
    // of tokens claimed by the single most-repeated unigram, by the
    // most-repeated bigram, and by ALL bigrams occurring more than
    // once. Unlike the per-row O(u·n) expression tree there, this is
    // the scale path for LONG documents: explode → two-level
    // aggregation (counts shuffled on (doc, token), then per-doc
    // max/sum) — linear in corpus size regardless of document length.
    QueryDef(
      "q_text_repetition_ngram",
      (s, dir) => {
        val t = tables(s, dir)
        val words = split(col("text"), " ")
        // (r22: an ensureParallelInput floor here was measured and
        // reverted — paired A/B exactly 1.00x (plans/r22/ab/t8): unlike
        // heavy_hitters' MG-sketch pass, the tokenize+partial-agg here
        // is cheap relative to its two aggregation shuffles, which
        // redistribute anyway.)
        val d = t.documents.select(col("doc_id"), words.as("w"),
          size(words).as("n"))
        val uniTop = d
          .select(col("doc_id"), explode(col("w")).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as("mu"))
        val bigrams = d.filter(col("n") > 1).select(col("doc_id"),
          explode(transform(sequence(lit(0), col("n") - 2),
            i => concat_ws(" ", col("w")(i), col("w")(i + 1)))).as("bg"))
        val bigAgg = bigrams
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(
            max(col("c")).as("mb"),
            sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dupb"))
        d.join(uniTop, "doc_id")
          .join(bigAgg, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            round(col("mu") / col("n"), 6).as("top_unigram_frac"),
            round(coalesce(col("mb") / (col("n") - 1), lit(0.0)), 6)
              .as("top_bigram_frac"),
            round(coalesce(col("dupb") / (col("n") - 1), lit(0.0)), 6)
              .as("dup_bigram_frac"),
            (col("mu") / col("n") <= 0.2 &&
              coalesce(col("dupb") / (col("n") - 1), lit(0.0)) <= 0.5)
              .as("keep"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS w,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS n
          FROM documents
        ),
        uni AS (
          SELECT doc_id, max(c) AS mu FROM (
            SELECT doc_id, tok, count(*) AS c
            FROM d, UNNEST(w) AS t(tok) GROUP BY doc_id, tok
          ) GROUP BY doc_id
        ),
        big AS (
          SELECT doc_id, max(c) AS mb,
                 sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupb
          FROM (
            SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg, count(*) AS c
            FROM d, UNNEST(range(1, CAST(n AS BIGINT))) AS t(i)
            GROUP BY doc_id, bg
          ) GROUP BY doc_id
        )
        SELECT d.doc_id,
               round(uni.mu / d.n, 6) AS top_unigram_frac,
               round(COALESCE(big.mb / (d.n - 1), 0.0), 6) AS top_bigram_frac,
               round(COALESCE(big.dupb / (d.n - 1), 0.0), 6) AS dup_bigram_frac,
               (uni.mu / d.n <= 0.2 AND
                COALESCE(big.dupb / (d.n - 1), 0.0) <= 0.5) AS keep
        FROM d JOIN uni ON d.doc_id = uni.doc_id
        LEFT JOIN big ON d.doc_id = big.doc_id
      """)
    ),
    // Marker-word language scoring with a deterministic argmax. (The
    // synthetic corpus has one shared vocabulary, so this validates
    // the classifier plumbing, not linguistics.)
    QueryDef(
      "q_text_langid",
      (s, dir) => {
        val t = tables(s, dir)
        val words = split(col("text"), " ")
        val n1 = size(filter(words, w => w.isin("join", "merge", "hash")))
        val n2 = size(filter(words, w => w.isin("stream", "batch", "window")))
        val n3 = size(filter(words, w => w.isin("sort", "filter", "scan")))
        t.documents.select(
          col("doc_id"),
          n1.as("score_rel"),
          n2.as("score_str"),
          n3.as("score_phy"),
          when(n1 >= n2 && n1 >= n3, "relational")
            .when(n2 >= n3, "streaming")
            .otherwise("physical")
            .as("lang_pred")
        )
      },
      Some("""
        WITH f AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '),
                      w -> w = 'join' OR w = 'merge' OR w = 'hash')) AS INT) AS n1,
                 CAST(len(list_filter(string_split(text, ' '),
                      w -> w = 'stream' OR w = 'batch' OR w = 'window')) AS INT) AS n2,
                 CAST(len(list_filter(string_split(text, ' '),
                      w -> w = 'sort' OR w = 'filter' OR w = 'scan')) AS INT) AS n3
          FROM documents
        )
        SELECT doc_id, n1 AS score_rel, n2 AS score_str, n3 AS score_phy,
               CASE WHEN n1 >= n2 AND n1 >= n3 THEN 'relational'
                    WHEN n2 >= n3 THEN 'streaming'
                    ELSE 'physical' END AS lang_pred
        FROM f
      """)
    ),
    // Document fingerprint: order-sensitive polynomial rolling hash —
    // word value = fold over chars (h*31 + codepoint) % M, doc value =
    // fold over word values (h*131 + wv) % M. Pure BIGINT arithmetic,
    // so the oracle matches exactly.
    QueryDef(
      "q_text_fingerprint",
      (s, dir) => {
        val t = tables(s, dir)
        val words = split(col("text"), " ")
        val wordVals = transform(
          words,
          w =>
            aggregate(
              split(w, ""),
              lit(7L),
              (h, c) => pmod(h * 31 + ascii(c), lit(Mod))
            )
        )
        // r21: the per-char interpreted fold is the heaviest per-row
        // expression in the module — floor the input parallelism so a
        // single-row-group corpus doesn't run it on one core
        ensureParallelInput(t.documents).select(
          col("doc_id"),
          aggregate(
            wordVals,
            lit(0L),
            (h, wv) => pmod(h * 131 + wv, lit(Mod))
          ).as("fingerprint")
        )
      },
      Some("""
        SELECT doc_id,
               list_reduce(
                 list_prepend(0, list_transform(string_split(text, ' '),
                   w -> list_reduce(
                          list_prepend(CAST(7 AS BIGINT),
                            list_transform(string_split(w, ''),
                                           c -> CAST(unicode(c) AS BIGINT))),
                          (h, c) -> (h * 31 + c) % 1000000007))),
                 (h, wv) -> (h * 131 + wv) % 1000000007) AS fingerprint
        FROM documents
      """)
    ),
    // TF-IDF: term frequency × inverse document frequency, top term
    // per document — the classic relevance-scoring pass (explode →
    // two aggregations → idf join → ranked). The idf join is left
    // unhinted: a web-scale vocabulary (1e8+ terms) does not fit a
    // broadcast, and AQE already broadcasts small idf tables on its
    // own at runtime.
    QueryDef(
      "q_text_tfidf",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = tables(s, dir)
        val docs = t.documents
        val words = docs.select(
          col("doc_id"),
          explode(split(col("text"), " ")).as("word")
        )
        val tf = words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
        val nDocs = docs.count() // scalar; tiny driver-side count
        val df_ = words
          .select(col("doc_id"), col("word"))
          .distinct()
          .groupBy(col("word"))
          .agg(count(lit(1)).as("df"))
          .withColumn("idf", log(lit(nDocs.toDouble) / col("df")))
        val scored = tf
          .join(df_, "word")
          .withColumn("tfidf", round(col("tf") * col("idf"), 6))
        val w = Window
          .partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("word"))
        scored
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("word").as("top_term"), col("tfidf"))
      },
      Some("""
        WITH words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        ), tf AS (
          SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2
        ), idf AS (
          SELECT word, ln((SELECT count(*) FROM documents) * 1.0 / count(*)) AS idf
          FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word
        ), scored AS (
          SELECT tf.doc_id, tf.word, round(tf.tf * idf.idf, 6) AS tfidf
          FROM tf JOIN idf USING (word)
        )
        SELECT doc_id, word AS top_term, tfidf
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, word) AS rn FROM scored)
        WHERE rn = 1
      """)
    ),
    // BM25 retrieval scoring (Robertson/Okapi — the ranking function
    // TF-IDF feeds in every lexical retrieval stack): top-20 documents
    // for a fixed 3-term query. Exactness notes: avgdl is an INTEGER
    // sum divided once (no float accumulation), every constant is the
    // same decimal literal on both engines (1.2+1 in driver code is
    // NOT the double 2.2 — the literal is), the ≤3 per-term scores
    // fold in sorted term order, and the final top-20 sorts on the
    // ROUNDED score with doc_id tiebreak so the cutoff can't flip on
    // an ulp. Plan: the IN filter drops non-query tokens BEFORE the tf
    // shuffle (only query-term hits ever shuffle), broadcast idf,
    // sort-limit-20 — no global window.
    QueryDef(
      "q_text_bm25",
      (s, dir) =>
        bm25Scores(tables(s, dir).documents, Seq("spark", "batch", "stream"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20),
      Some(s"""
        WITH $Bm25CtesSql
        SELECT doc_id, bm25 FROM bm
        ORDER BY bm25 DESC, doc_id LIMIT 20
      """)
    ),
    // Hybrid retrieval via Reciprocal Rank Fusion (the standard
    // lexical+semantic combiner): BM25 ranking of the documents and
    // cosine ranking of the embeddings (query = vec 0), fused as
    // Σ 1/(60 + rank). Both global rankings run through
    // DistributedRank (range-partition + local rank + broadcast
    // offsets — no single-task partitionless window), ranks are exact
    // integers over 6-decimal-rounded scores, and the fused score is
    // two fixed-order divisions — engine-exact before its own
    // rounding. Top-20 sorts on the ROUNDED fusion with id tiebreak.
    QueryDef(
      "q_retrieval_hybrid_rrf",
      (s, dir) => {
        val t = tables(s, dir)
        val bm = bm25Scores(t.documents, Seq("spark", "batch", "stream"))
        val (lex0, _) = graft.plans.DistributedRank.globalRank(
          bm, "rank_lex", col("bm25").desc, col("doc_id"))
        val lex = lex0.select(col("doc_id"), col("rank_lex").cast("long").as("rank_lex"))
        val e = SimilarityQueries.vectors(t.embeddings)
        val q = e.filter(col("vec_id") === 0L)
          .select(col("v").as("qv"), col("n2").as("qn"))
        val sem0 = e.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(SimilarityQueries.cosine(col("v"), col("qv"),
              col("n2"), col("qn")), 6).as("cos"))
        val (sem1, _) = graft.plans.DistributedRank.globalRank(
          sem0, "rank_sem", col("cos").desc, col("vec_id"))
        val sem = sem1.select(col("vec_id").as("doc_id"),
          col("rank_sem").cast("long").as("rank_sem"))
        lex.join(sem, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("rank_lex"), col("rank_sem"),
            round(
              coalesce(lit(1.0) / (lit(60.0) + col("rank_lex")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60.0) + col("rank_sem")), lit(0.0)),
              6).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""
        WITH $Bm25CtesSql,
        lex AS (
          SELECT doc_id, CAST(row_number() OVER (
                   ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank_lex
          FROM bm
        ),
        ev AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_inner_product(embedding::DOUBLE[],
                                    embedding::DOUBLE[]) AS n2
          FROM embeddings
        ),
        qv AS (SELECT v, n2 FROM ev WHERE vec_id = 0),
        sem0 AS (
          SELECT vec_id,
                 round(list_inner_product(ev.v, (SELECT v FROM qv)) /
                       sqrt(ev.n2 * (SELECT n2 FROM qv)), 6) AS cos
          FROM ev WHERE vec_id != 0
        ),
        sem AS (
          SELECT vec_id AS doc_id, CAST(row_number() OVER (
                   ORDER BY cos DESC, vec_id) AS BIGINT) AS rank_sem
          FROM sem0
        )
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
               l.rank_lex, s.rank_sem,
               round(COALESCE(1.0 / (60.0 + l.rank_lex), 0.0) +
                     COALESCE(1.0 / (60.0 + s.rank_sem), 0.0), 6) AS rrf
        FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
        ORDER BY rrf DESC, COALESCE(l.doc_id, s.doc_id) LIMIT 20
      """)
    ),
    // N-gram novelty: the share of a document's (distinct) trigram
    // shingles that appear NOWHERE else in the corpus — the
    // diversity/novelty weight a mixture sampler feeds on (a doc full
    // of corpus-wide boilerplate scores ~0, genuinely new text ~1).
    // One shingle-keyed shuffle: document-frequency counts collapse
    // map-side, and the join back is one df row per (doc, shingle), so
    // a hot boilerplate shingle costs its row count, never a blowup.
    QueryDef(
      "q_text_novelty",
      (s, dir) => {
        graft.functions.SketchExpressions.register(s)
        val t = tables(s, dir)
        val sh = t.documents
          .select(
            col("doc_id"),
            explode(
              graft.functions.SketchExpressions.word_shingles(col("text"))
            ).as("sh")
          )
        val dft = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        sh.join(dft, "sh")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_shingles"),
            count(when(col("df") === 1, 1)).as("n_unique")
          )
          .select(
            col("doc_id"),
            col("n_shingles"),
            col("n_unique"),
            round(col("n_unique").cast("double") / col("n_shingles"), 6)
              .as("novelty")
          )
      },
      Some(s"""
        WITH sh AS (
          SELECT doc_id, unnest(shingles) AS sh FROM (
            ${graft.operators.Murmur3Sql.shingleSelect})
        ), dft AS (
          SELECT sh, count(*) AS df FROM sh GROUP BY sh
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(*) FILTER (WHERE df = 1) AS BIGINT) AS n_unique,
               round(count(*) FILTER (WHERE df = 1) * 1.0 / count(*), 6) AS novelty
        FROM sh JOIN dft USING (sh)
        GROUP BY doc_id
      """)
    ),
    // Multimodal plumbing: opaque binary payload + typed metadata.
    // The "decode" is a deterministic fake (see MediaPipeline for the
    // real stub behind mapPartitions); the Spark-side schema, batch
    // shape and feature extraction are real.
    QueryDef(
      "q_media_features",
      (s, dir) => {
        val t = tables(s, dir)
        val payload = col("text").cast("binary")
        t.documents.select(
          col("doc_id"),
          octet_length(payload).as("n_bytes"),
          md5(payload).as("digest"),
          (ascii(substring(col("text"), 1, 1)) * 7 % 640).as("fake_width"),
          (col("n_chars") * 13 % 480).as("fake_height")
        )
      },
      Some("""
        SELECT doc_id,
               octet_length(text::BLOB) AS n_bytes,
               md5(text) AS digest,
               CAST(unicode(substring(text, 1, 1)) * 7 % 640 AS INT) AS fake_width,
               n_chars * 13 % 480 AS fake_height
        FROM documents
      """)
    ),
    // Media resize plumbing: the stub decode's dimensions and the
    // clamp-to-fit scale are pure arithmetic over the payload, so the
    // whole per-partition transform is SQL-checkable even though the
    // codec is a stand-in.
    QueryDef(
      "q_media_resize",
      (s, dir) => {
        import s.implicits._
        val t = tables(s, dir)
        MediaPipeline
          .resize(MediaPipeline.mediaFromDocuments(t.documents), 320, 240)
          .toDF()
          .select(col("media_id"), col("width"), col("height"))
      },
      Some("""
        WITH m AS (
          SELECT doc_id AS media_id,
                 1 + (unicode(substring(text, 1, 1)) * 7) % 640 AS w,
                 1 + (octet_length(text::BLOB) * 13) % 480 AS h
          FROM documents
        )
        SELECT media_id,
               GREATEST(1, CAST(trunc(w * LEAST(1.0, 320.0 / w, 240.0 / h)) AS INT))
                 AS width,
               GREATEST(1, CAST(trunc(h * LEAST(1.0, 320.0 / w, 240.0 / h)) AS INT))
                 AS height
        FROM m
      """)
    ),
    // Frame sampling: one media row fans out to every 4th 256-byte
    // chunk; the oracle recomputes the sampled-frame count and byte
    // volume from the payload length.
    QueryDef(
      "q_media_frames",
      (s, dir) => {
        import s.implicits._
        val t = tables(s, dir)
        MediaPipeline
          .sampleFrames(MediaPipeline.mediaFromDocuments(t.documents), 256, 4)
          .toDF()
          .groupBy(col("media_id"))
          .agg(
            count(lit(1)).as("n_frames"),
            sum(octet_length(col("frame_bytes"))).as("n_bytes")
          )
      },
      Some("""
        WITH f AS (
          SELECT doc_id AS media_id, octet_length(text::BLOB) AS len,
                 unnest(generate_series(0,
                   CAST(ceil(octet_length(text::BLOB) / 256.0) AS INT) - 1)) AS i
          FROM documents
        )
        SELECT media_id, count(*) AS n_frames,
               CAST(sum(LEAST(256, len - i * 256)) AS BIGINT) AS n_bytes
        FROM f WHERE i % 4 = 0
        GROUP BY media_id
      """)
    ),
    // The composed training-data prep pass: exact dedup (keep lowest
    // doc_id per content hash) → quality gate (length + token floor)
    // → per-doc token stats. One narrow pipeline + one ranking
    // shuffle — the shape a 100 TB corpus prep actually runs.
    QueryDef(
      "q_pipeline_prep",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = tables(s, dir)
        val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
        t.documents
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .withColumn("words", split(col("text"), " "))
          .filter(length(col("text")) >= 200 && size(col("words")) >= 30)
          .select(
            col("doc_id"),
            size(col("words")).as("n_tokens"),
            length(col("text")).as("n_chars"),
            round(length(col("text")).cast("double") / size(col("words")), 4)
              .as("avg_tok_len")
          )
      },
      Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
               CAST(length(text) AS INT) AS n_chars,
               round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 4)
                 AS avg_tok_len
        FROM (
          SELECT doc_id, text,
                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM documents
        )
        WHERE rn = 1 AND length(text) >= 200 AND len(string_split(text, ' ')) >= 30
      """)
    ),
    // Unigram log-prob scoring (the CCNet-style perplexity-proxy
    // filter): build the corpus unigram distribution, score each doc by
    // its mean negative log-likelihood, keep low-perplexity docs. Two
    // aggregations end-to-end: vocab build (map-side partials absorb
    // Zipf skew — the hottest word collapses per-mapper), then a
    // word-equi join back (vocab is Zipf-bounded: broadcast here, hash
    // join at 100 TB with AQE) + the 1-row corpus total broadcast, then
    // one groupBy(doc). No per-doc vocabulary lookup tables on the
    // driver. round(·,4) before the verdict so both engines threshold
    // the identical value (fp summation order differs).
    QueryDef(
      "q_text_unigram_logprob",
      (s, dir) => {
        val t = tables(s, dir)
        val words = t.documents.select(
          col("doc_id"),
          explode(split(col("text"), " ")).as("word")
        )
        val vocab = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
        val total = vocab.agg(sum(col("c")).as("n"))
        words
          .join(vocab, Seq("word"))
          .crossJoin(broadcast(total))
          .select(
            col("doc_id"),
            -log(col("c").cast("double") / col("n").cast("double"))
          )
          .toDF("doc_id", "nll")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_tokens"),
            round(sum(col("nll")) / count(lit(1)), 4).as("avg_nll")
          )
          .withColumn("keep", col("avg_nll") < 3.41)
      },
      Some("""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        ),
        vocab AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab),
        scored AS (
          SELECT w.doc_id,
                 -ln(CAST(vocab.c AS DOUBLE) / (SELECT n FROM tot)) AS nll
          FROM w JOIN vocab USING (word)
        )
        SELECT doc_id, count(*) AS n_tokens,
               round(sum(nll) / count(*), 4) AS avg_nll,
               round(sum(nll) / count(*), 4) < 3.41 AS keep
        FROM scored GROUP BY doc_id
      """)
    ),
    // Bigram LM scoring — the actual CCNet/KenLM-shaped perplexity
    // filter (the unigram query above is the proxy): self-train a
    // conditional model P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) with Laplace
    // smoothing over the corpus, score each doc by mean NLL of its
    // adjacent pairs. Three aggregations (bigram counts, unigram
    // counts, 1-row vocab size) then two equi-joins back onto the pair
    // stream — (w1,w2) and w1. Both joins are Zipf-skewed on the hot
    // token exactly like the unigram join; map-side partials absorb
    // the skew in the counts, AQE splits it in the joins at 100 TB
    // (broadcast when the n-gram tables fit). round(·,4) before the
    // keep verdict so both engines threshold the identical value.
    QueryDef(
      "q_text_bigram_logprob",
      (s, dir) => {
        val t = tables(s, dir)
        val docs = t.documents
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
        val words = docs.select(explode(col("ws")).as("word"))
        val uni = words.groupBy(col("word")).agg(count(lit(1)).as("c1"))
        val vocab = uni.agg(count(lit(1)).cast("double").as("v"))
        // adjacent pairs; sequence() is ascending only for size >= 2
        val pairs = docs
          .filter(size(col("ws")) >= 2)
          .select(
            col("doc_id"),
            explode(expr(
              "transform(sequence(1, size(ws) - 1), " +
                "i -> struct(ws[i-1] AS w1, ws[i] AS w2))")).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        // fixed-point determinism discipline: quantize each per-pair
        // term to an integer number of 1e-9 units (both engines compute
        // the identical double and round identically — HALF_UP away
        // from zero on ties), then SUM LONGS. Integer addition is
        // associative, so the result is order-independent — no sorted
        // fold, no per-doc distinct-pair pre-aggregation (that prep was
        // a full pair-level shuffle that only existed to shorten the
        // sorted fold's collect_list), and the per-doc aggregate keeps
        // codegen'd map-side partial aggregation: the shuffle carries
        // one (long, long) pair per (doc × map partition). The round()
        // quantizer (a per-value BigDecimal walk) runs in the
        // distinct-pair-sized MODEL table, not per pair instance — the
        // hot path carries zero double math. Quantization
        // error on the 4dp-rounded average is bounded by 0.5e-9
        // (per-term bound / n cancels n); the per-term |nll| < 40 keeps
        // round()'s double exact (< 2^53/1e9 ≈ 9e6) with huge margin.
        val biModel = bi
          .join(uni.withColumnRenamed("word", "w1"), Seq("w1"))
          .crossJoin(broadcast(vocab))
          .select(col("w1"), col("w2"),
            round((-log((col("c2") + lit(1.0)) / (col("c1") + col("v"))))
              * lit(1.0e9)).cast("long").as("qterm"))
        pairs
          .join(biModel, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_pairs"),
            sum(col("qterm")).as("qsum"))
          .select(col("doc_id"), col("n_pairs"),
            round(col("qsum").cast("double") / lit(1.0e9)
              / col("n_pairs").cast("double"), 4).as("avg_nll"))
          .withColumn("keep", col("avg_nll") < 3.42)
      },
      Some("""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        w AS (SELECT doc_id, unnest(ws) AS word FROM d),
        uni AS (SELECT word, count(*) AS c1 FROM w GROUP BY 1),
        v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
        p AS (SELECT doc_id,
                     unnest([{'w1': ws[i], 'w2': ws[i+1]}
                             for i in range(1, len(ws))]) AS pr
              FROM d WHERE len(ws) >= 2),
        pp AS (SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2 FROM p),
        bi AS (SELECT w1, w2, count(*) AS c2 FROM pp GROUP BY 1, 2),
        bm AS (
          SELECT bi.w1, bi.w2,
                 CAST(round((-ln((bi.c2 + 1.0) / (uni.c1 + (SELECT v FROM v))))
                      * 1000000000.0) AS BIGINT) AS qterm
          FROM bi JOIN uni ON bi.w1 = uni.word),
        scored AS (
          SELECT pp.doc_id, bm.qterm
          FROM pp JOIN bm USING (w1, w2))
        SELECT doc_id, count(*) AS n_pairs,
               round(CAST(sum(qterm) AS DOUBLE) / 1000000000.0
                     / CAST(count(*) AS DOUBLE), 4) AS avg_nll,
               round(CAST(sum(qterm) AS DOUBLE) / 1000000000.0
                     / CAST(count(*) AS DOUBLE), 4) < 3.42 AS keep
        FROM scored GROUP BY doc_id
      """)
    ),
    // Multinomial Naive Bayes document classifier, trained AND scored
    // distributed (the counts-based classifier-scoring stage of a
    // training-data pipeline — the closed-form cousin of the fasttext
    // quality/language classifiers, with an exact SQL oracle since
    // train = aggregations and score = join + sum). Model: per-class
    // priors ln(n_docs_c / n_docs) and Laplace-smoothed likelihoods
    // ln((c_{w,c}+1)/(tot_c+V)). The model tables are class-count
    // sized (k rows / k×vocab rows); scoring multiplies the token
    // stream by k classes (k=3 here) and joins the likelihood table on
    // (word, class) — a shuffle equi-join at 100 TB, broadcast when the
    // vocab fits. Unseen (word, class) pairs fall back to the smoothing
    // floor via the per-class model row. argmax per doc orders by the
    // ROUNDED score (4dp) with class as tie-break, so both engines make
    // the identical pick even at fp-summation-order noise.
    QueryDef(
      "q_text_nb_classify",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = tables(s, dir)
        val docs = t.documents.select(col("doc_id"), col("lang"), col("text"))
        // deliberately NOT cached (reverting the r14 cache): the token
        // stream is a plain codegen'd scan+split+explode — trivially
        // recomputable — and materializing it is a pipeline barrier on
        // an intermediate LARGER than its pruned columnar source, at
        // any scale. The r16 paired A/B measured the cache at +0.5 s
        // on the sf0.1 min (1.07 s uncached vs 1.58–1.96 cached); the
        // other CacheScope.cached sites stay because they materialize
        // EXPENSIVE per-row transforms (minhash signatures, shingles),
        // not a re-runnable explode.
        val words = docs.select(
          col("doc_id"), col("lang"),
          explode(split(lower(col("text")), " ")).as("word"))
          .filter(col("word") =!= "")
        val wc = words.groupBy(col("lang"), col("word"))
          .agg(count(lit(1)).as("c"))
        val vocab = words.select(col("word")).distinct()
          .agg(count(lit(1)).cast("double").as("v"))
        val langTot = wc.groupBy(col("lang"))
          .agg(sum(col("c")).cast("double").as("tot"))
        val priors = docs.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
        val ndocs = docs.agg(count(lit(1)).cast("double").as("n"))
        // per-class model row: prior + unseen-word floor
        val model = priors
          .join(langTot, "lang").crossJoin(broadcast(vocab))
          .crossJoin(broadcast(ndocs))
          .select(
            col("lang").as("cls"),
            log(col("nd") / col("n")).as("logprior"),
            round(log(lit(1.0) / (col("tot") + col("v"))) * lit(1.0e9))
              .cast("long").as("unseen_qll"))
        // per-(class, word) likelihood, quantized in the model table
        val ll = wc.join(langTot, "lang").crossJoin(broadcast(vocab))
          .select(
            col("lang").as("cls"), col("word"),
            round(log((col("c") + lit(1)) / (col("tot") + col("v")))
              * lit(1.0e9)).cast("long").as("qll"))
        // fixed-point determinism (see q_text_bigram_logprob): the
        // argmax below compares 4dp-rounded scores, and a
        // partition-order double sum could flip a half-boundary
        // rounding and with it the predicted class. Quantizing each
        // per-token term to 1e-9 units and summing longs is
        // order-independent AND keeps codegen'd map-side partial
        // aggregation over raw token instances — no per-doc
        // distinct-count prep (that was a full token-level shuffle that
        // only existed to shorten the sorted fold's collect_list), and
        // the (doc, cls) shuffle carries one (long, double) pair per
        // group per map partition. Likelihoods are quantized in the
        // k×vocab MODEL tables above (each instance term IS one model
        // row's value, so rounding there or per instance is
        // value-identical) — zero per-row double math on the token
        // stream; the round() BigDecimal walk runs on vocab-sized rows.
        val scored = words.select(col("doc_id"), col("word"))
          .crossJoin(broadcast(model.select(
            col("cls"), col("logprior"), col("unseen_qll"))))
          .join(ll, Seq("cls", "word"), "left")
          .groupBy(col("doc_id"), col("cls"))
          .agg((first(col("logprior")) +
            sum(coalesce(col("qll"), col("unseen_qll"))).cast("double")
              / lit(1.0e9)).as("score"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(round(col("score"), 4).desc, col("cls").asc)
        scored
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .select(
            col("doc_id"),
            col("cls").as("pred_lang"),
            round(col("score"), 4).as("score"),
            (col("cls") === col("lang")).as("is_correct"))
      },
      Some("""
        WITH w AS (
          SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
          FROM documents
        ),
        wf AS (SELECT * FROM w WHERE word <> ''),
        wc AS (SELECT lang, word, count(*) AS c FROM wf GROUP BY 1, 2),
        vocab AS (SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v FROM wf),
        langtot AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS tot FROM wc GROUP BY 1),
        priors AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
        ndocs AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        model AS (
          SELECT p.lang AS cls, ln(p.nd / (SELECT n FROM ndocs)) AS logprior,
                 CAST(round(ln(1.0 / (t.tot + (SELECT v FROM vocab)))
                      * 1000000000.0) AS BIGINT) AS unseen_qll
          FROM priors p JOIN langtot t ON p.lang = t.lang
        ),
        ll AS (
          SELECT wc.lang AS cls, wc.word,
                 CAST(round(ln((wc.c + 1) / (t.tot + (SELECT v FROM vocab)))
                      * 1000000000.0) AS BIGINT) AS qll
          FROM wc JOIN langtot t ON wc.lang = t.lang
        ),
        scored AS (
          SELECT wf.doc_id, m.cls,
                 any_value(m.logprior) +
                   CAST(sum(coalesce(ll.qll, m.unseen_qll)) AS DOUBLE)
                     / 1000000000.0 AS score
          FROM wf CROSS JOIN model m
          LEFT JOIN ll ON ll.cls = m.cls AND ll.word = wf.word
          GROUP BY wf.doc_id, m.cls
        ),
        ranked AS (
          SELECT doc_id, cls, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY round(score, 4) DESC, cls ASC) AS rn
          FROM scored
        )
        SELECT r.doc_id, r.cls AS pred_lang, round(r.score, 4) AS score,
               r.cls = d.lang AS is_correct
        FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
        WHERE r.rn = 1
      """)
    ),
    // DSIR-shaped importance-resampling selection ("Data Selection for
    // Language Models via Importance Resampling", Xie et al., NeurIPS
    // 2023): score every raw doc by its unigram log likelihood-ratio
    // against a TARGET distribution (here the 'en' slice stands in for
    // the curated target corpus) and keep docs the target model likes
    // better than the raw model — λ(d)/|d| = Σ n_w·(ln p_t(w) − ln
    // p_r(w))/Σ n_w with Laplace smoothing over the shared vocab (the
    // hashed-feature variant trades exactness for memory; at any scale
    // the model here is one vocab-sized table, broadcast- or
    // shuffle-joined — same scale shape). Per-token fixed-point
    // quantized sums keep the score deterministic regardless of
    // summation order (nb_classify discipline); exact DuckDB oracle.
    QueryDef(
      "q_select_dsir",
      (s, dir) => {
        val t = tables(s, dir)
        val words = t.documents.select(col("doc_id"), col("lang"),
            explode(split(lower(col("text")), " ")).as("word"))
          .filter(col("word") =!= "")
        val vocabN = words.select(col("word")).distinct()
          .agg(count(lit(1)).cast("double").as("v"))
        val rawC = words.groupBy(col("word")).agg(count(lit(1)).as("cr"))
        val tgtC = words.filter(col("lang") === "en")
          .groupBy(col("word")).agg(count(lit(1)).as("ct"))
        val rawT = words.agg(count(lit(1)).cast("double").as("nr"))
        val tgtT = words.filter(col("lang") === "en")
          .agg(count(lit(1)).cast("double").as("nt"))
        val model = rawC.join(tgtC, Seq("word"), "left")
          .crossJoin(broadcast(vocabN))
          .crossJoin(broadcast(rawT))
          .crossJoin(broadcast(tgtT))
          .select(col("word"),
            round((log((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
                (col("nt") + col("v")))
              - log((col("cr") + lit(1.0)) /
                (col("nr") + col("v")))) * lit(1.0e9))
              .cast("long").as("qterm"))
        // fixed-point determinism (see q_text_bigram_logprob):
        // order-independent long sum over raw token instances,
        // map-side combinable — no per-doc distinct-count shuffle; the
        // log-ratio is quantized in the vocab-sized MODEL table (value-
        // identical to per-instance rounding), so the token stream
        // carries zero double math
        words.select(col("doc_id"), col("word")).join(model, "word")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_tokens"),
            round(sum(col("qterm")).cast("double") / lit(1.0e9)
              / count(lit(1)).cast("double"), 4).as("avg_logratio"))
          .withColumn("keep", col("avg_logratio") > 0.0)
      },
      Some("""
        WITH w AS (
          SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
          FROM documents
        ),
        wf AS (SELECT * FROM w WHERE word <> ''),
        v AS (SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v FROM wf),
        cr AS (SELECT word, count(*) AS cr FROM wf GROUP BY 1),
        ct AS (SELECT word, count(*) AS ct FROM wf WHERE lang = 'en' GROUP BY 1),
        nr AS (SELECT CAST(count(*) AS DOUBLE) AS nr FROM wf),
        nt AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM wf WHERE lang = 'en'),
        model AS (
          SELECT cr.word,
                 CAST(round((ln((coalesce(ct.ct, 0) + 1.0)
                    / ((SELECT nt FROM nt) + (SELECT v FROM v)))
               - ln((cr.cr + 1.0)
                    / ((SELECT nr FROM nr) + (SELECT v FROM v))))
                   * 1000000000.0) AS BIGINT) AS qterm
          FROM cr LEFT JOIN ct ON cr.word = ct.word
        ),
        scored AS (
          -- "+ 0.0" normalizes signed zero: a tiny negative score that
          -- rounds to zero at 4dp comes out of libm round as -0.0, but
          -- Spark's BigDecimal round emits +0.0 — equal under ==, hash-
          -- different under the driver's raw-bit compare (IEEE 754:
          -- -0.0 + 0.0 = +0.0). See README "Determinism contract".
          SELECT wf.doc_id, count(*) AS n_tokens,
                 round(CAST(sum(m.qterm) AS DOUBLE)
                       / 1000000000.0
                       / CAST(count(*) AS DOUBLE), 4) + 0.0 AS avg_logratio
          FROM wf JOIN model m ON wf.word = m.word GROUP BY 1
        )
        SELECT doc_id, n_tokens, avg_logratio,
               avg_logratio > 0.0 AS keep
        FROM scored
      """)
    ),
    // Corpus heavy hitters (φ = 1%): Misra–Gries sketch proposes
    // candidates in one O(capacity)-state pass, then an exact count
    // over candidates only verifies — the propose-then-verify pattern
    // (same as MinHash-LSH) makes the output exact and deterministic
    // even though the sketch's surviving set is merge-order dependent.
    // MG guarantee: capacity 256 bounds the undercount by n/256 < φ·n,
    // so no true heavy hitter can be missed. At 100 TB the full-corpus
    // group-by never happens — only ≤256 candidate words are counted.
    QueryDef(
      "q_text_heavy_hitters",
      (s, dir) => {
        val t = tables(s, dir)
        // r21: both passes (sketch propose + exact verify) are per-row
        // CPU over the token stream — floor the input parallelism so a
        // single-row-group corpus doesn't serialize them on one core
        val words = ensureParallelInput(t.documents)
          .select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(col("word") =!= "")
        val mg = udaf(new graft.functions.MisraGriesAgg(256))
        // one row, O(capacity) — size-independent of the corpus, same
        // class of driver scalar as the IVF codebook collect
        val sk = words
          .agg(mg(col("word")).as("sk"))
          .select(col("sk.total"), map_keys(col("sk.counts")))
          .head()
        val total = sk.getLong(0)
        val cands = sk.getSeq[String](1)
        words
          .filter(col("word").isin(cands: _*))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= lit(0.01) * lit(total.toDouble))
      },
      Some("""
        WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word
                   FROM documents),
             ww AS (SELECT word FROM w WHERE word <> ''),
             n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM ww)
        SELECT word, count(*) AS cnt
        FROM ww GROUP BY word
        HAVING count(*) >= 0.01 * (SELECT total FROM n)
      """)
    ),
    // Per-group heavy hitters (φ = 2% within each language): the MG
    // sketch as a PER-KEY aggregate — one sketch per group, mergeable
    // map-side like any partial agg, so per-domain frequent-token
    // analysis at 100 TB is one shuffle of O(groups × capacity) state.
    // Same propose-then-verify exactness: per-group candidates, exact
    // recount, per-group threshold.
    QueryDef(
      "q_text_heavy_hitters_grouped",
      (s, dir) => {
        val t = tables(s, dir)
        // r21: same input-parallelism floor as q_text_heavy_hitters
        val words = ensureParallelInput(t.documents)
          .select(col("lang"),
            explode(split(lower(col("text")), " ")).as("word"))
          .filter(col("word") =!= "")
        val mg = udaf(new graft.functions.MisraGriesAgg(128))
        // one row per language, O(groups × capacity) — driver-safe
        val perLang = words.groupBy(col("lang"))
          .agg(mg(col("word")).as("sk"))
          .select(col("lang"), col("sk.total").as("total"),
            explode(map_keys(col("sk.counts"))).as("word"))
        words
          .join(perLang.select(col("lang"), col("word"), col("total")).distinct(),
            Seq("lang", "word"))
          .groupBy(col("lang"), col("word"), col("total"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= lit(0.02) * col("total").cast("double"))
          .select(col("lang"), col("word"), col("cnt"))
      },
      Some("""
        WITH w AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS word
                   FROM documents),
             ww AS (SELECT lang, word FROM w WHERE word <> ''),
             tot AS (SELECT lang, CAST(count(*) AS DOUBLE) AS total
                     FROM ww GROUP BY lang)
        SELECT ww.lang, word, count(*) AS cnt
        FROM ww JOIN tot ON ww.lang = tot.lang
        GROUP BY ww.lang, word, total
        HAVING count(*) >= 0.02 * total
      """)
    ),
    // BPE tokenizer merge training (Sennrich 2016): one corpus pass to
    // the word vocabulary, then incremental pair-count merge rounds
    // over the vocab only (round k recounts just the words containing
    // the merged pair — 256 merges cost barely more than 12).
    // Iterative multi-round semantics are not SQL-expressible — no
    // DuckDB oracle; BpeSpec proves equality with a sequential
    // reference implementation and partitioning invariance (the merge
    // table is a pure function of the corpus).
    QueryDef(
      "q_tokenizer_bpe",
      (s, dir) =>
        graft.functions.Bpe.trainFromDocuments(
          tables(s, dir).documents, numMerges = 256),
      None
    ),
    // BPE encode with the learned merges: per-doc token counts under
    // the trained vocab (the compression the merges buy vs raw
    // characters). Training is iterative (no oracle); BpeSpec pins the
    // encode against the sequential reference.
    QueryDef(
      "q_tokenize_bpe_apply",
      (s, dir) => {
        val docs = tables(s, dir).documents
        val merges = graft.functions.Bpe.train(
          graft.functions.Bpe.vocabulary(docs), numMerges = 12)
        graft.functions.Bpe.tokenize(docs, merges)
      },
      None
    )
  )
}
