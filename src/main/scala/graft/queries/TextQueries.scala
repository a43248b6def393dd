package graft.queries

import graft.Tables
import graft.operators.TextOps
import graft.operators.TextOps._
import graft.sources.TempStores
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis queries over `documents`, each with a bit-exact DuckDB
  * oracle (see TextOps for the determinism rules). Shared DuckDB SQL
  * fragments live in [[Duck]] so Spark and oracle stay in lockstep.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  val all: Map[String, Q] = Map(
    // Token counting: whitespace tokens + BPE-ish regex tokens.
    "text_token_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))),

    // Quality scoring: lengths + deterministic ratios.
    "text_quality" -> ((s, dir) =>
      quality()(docs(s, dir)).select(col("doc_id") +:
        TextOps.qualityColumns(col("text")).map(p => col(p._1)): _*)),

    // Readability scoring (Flesch reading-ease + Flesch-Kincaid grade,
    // the corpus-filtering classic): exact word / sentence /
    // vowel-group-syllable counting per doc (the standard heuristic —
    // ≥1 syllable per word), rolled up per source and scored on the
    // AGGREGATE ratios with one shared double tree. Pure scan-side
    // counting into a source-grain exchange; both engines keep split
    // empties identically and the nonempty filters make them equal.
    "text_readability" -> ((s, dir) =>
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("source"),
          expr("CAST(size(filter(split(trim(text), '\\\\s+'), " +
            "w -> w <> '')) AS BIGINT)").as("w"),
          expr("greatest(CAST(1 AS BIGINT), " +
            "CAST(size(filter(split(text, '[.!?]+'), " +
            "x -> trim(x) <> '')) AS BIGINT))").as("st"),
          expr("aggregate(filter(split(trim(text), '\\\\s+'), " +
            "w -> w <> ''), CAST(0 AS BIGINT), (acc, w) -> acc + " +
            "greatest(CAST(1 AS BIGINT), CAST(size(filter(" +
            "split(lower(w), '[^aeiouy]+'), p -> p <> '')) AS BIGINT)))")
            .as("sy"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("tw"),
          sum(col("st")).as("ts"), sum(col("sy")).as("tsy"))
        .select(col("source"), col("n_docs"), col("tw").as("total_words"),
          col("ts").as("total_sentences"), col("tsy").as("total_syllables"),
          (lit(206.835) -
            lit(1.015) * (col("tw").cast("double") / col("ts").cast("double")) -
            lit(84.6) * (col("tsy").cast("double") / col("tw").cast("double")))
            .as("flesch_ease"),
          (lit(0.39) * (col("tw").cast("double") / col("ts").cast("double")) +
            lit(11.8) * (col("tsy").cast("double") / col("tw").cast("double")) -
            lit(15.59)).as("fk_grade"))),

    // Language ID (n-gram/stopword heuristic with deterministic argmax).
    "text_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        langId(tokens(col("text"))).as("lang_guess"))),

    // Lang-id evaluation against the table's labeled `lang` column: the
    // confusion matrix + within-label share — the accuracy dashboard a
    // curation team keeps for its classifier. One fact groupBy; label
    // totals broadcast; the share division is one shared expression.
    "text_langid_confusion" -> ((s, dir) => {
      val per = docs(s, dir)
        .select(col("lang"), langId(tokens(col("text"))).as("lid"))
        .groupBy(col("lang"), col("lid")).agg(count(lit(1)).as("n"))
        .localCheckpoint(false) // consumed by totals AND the final join
      val tot = per.groupBy(col("lang")).agg(sum(col("n")).as("tot"))
      per.join(broadcast(tot), Seq("lang"))
        .select(col("lang"), col("lid"), col("n"),
          (col("n").cast("double") / col("tot").cast("double"))
            .as("share"))
    }),

    // Document fingerprinting: exact content hash + min-shingle rolling
    // hash (1-perm MinHash sketch).
    "text_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        contentHash(col("text")).as("content_hash"),
        shingleFingerprint(col("text"), 5).as("shingle_fp"))),

    // Winnowing fingerprints (Schleimer-Wilkerson-Aiken / MOSS): the
    // distinct minima of every w-window over the positional 5-shingle
    // hashes — the guaranteed-coverage sketch between a full shingle
    // set (n hashes) and the 1-perm MinHash (1 hash): any shared run of
    // w+k-1 tokens shares a fingerprint. Pure array expressions, zero
    // shuffles; the density column shows the sketch's compression.
    "text_winnowing" -> ((s, dir) => {
      // hash array staged into its own projection — see
      // DedupOps.winnowingPairs for why (HOF lambdas get no
      // subexpression elimination; inlined, the md5s re-run per window)
      val wins = transform(
        sequence(lit(0), greatest(size(col("__hs")) - WinnowW, lit(0))),
        i => array_min(slice(col("__hs"), i + 1, lit(WinnowW))))
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextOps.shingleHashes(tokens(col("text")), WinnowK).as("__hs"))
        .select(col("doc_id"), col("__hs"), wins.as("__wins"))
        .select(col("doc_id"),
          size(col("__hs")).cast("long").as("n_shingles"),
          size(array_distinct(col("__wins"))).cast("long")
            .as("n_fingerprints"),
          array_min(col("__hs")).as("min_fp"),
          (size(array_distinct(col("__wins"))).cast("double") /
            size(col("__hs")).cast("double")).as("fp_density"))
    }),

    // PMI collocations: the top-20 adjacent-token pairs by pointwise
    // mutual information — the phrase-mining view of the corpus (which
    // bigrams are "words" that the whitespace tokenizer split). Ranking
    // by c12/(c1·c2) IS the PMI order (the log and the constant corpus
    // total N are monotone, so neither is computed — no transcendentals
    // and no 1-row aggregate), fixed-pointed on the shared integer
    // scale. Scale shape: one token-grain and one bigram-grain groupBy
    // (map-side combined); the two unigram joins run at vocabulary
    // grain; top-20 is a TakeOrdered. The Long product c1·c2 holds to
    // ~3×10⁹ occurrences per token — beyond that the scale drops or the
    // product widens to DECIMAL (documented, not hit at any test sf).
    "text_collocations" -> ((s, dir) => {
      val base = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
      // vocabulary frame consumed by BOTH endpoint joins
      val uni = base.select(explode(col("tk")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1"))
        .localCheckpoint(false)
      val bi = base.filter(size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tk) - 1)," +
            " i -> struct(tk[i-1] AS w1, tk[i] AS w2))")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= CollMinPair)
      bi.join(uni.select(col("w").as("w1"), col("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c1").as("c2")), Seq("w2"))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          expr(s"($CollScale * c12) div (c1 * c2)").as("pmi_fp"))
        .orderBy(col("pmi_fp").desc, col("w1"), col("w2"))
        .limit(CollTopN)
    }),

    // RAKE keyphrases (Rose et al. 2010): candidate phrases are maximal
    // stopword-free token runs (gaps-and-islands: pos − row_number per
    // doc), capped at RakeMaxLen words; word score = deg/freq in
    // integer fixed-point (deg = Σ phrase-length over occurrences);
    // phrase score = Σ word scores with multiplicity; top-20 by
    // (score, n_occ, phrase). Scale shape: one (doc, island) groupBy,
    // then everything runs at vocabulary/phrase grain; the candidate
    // frame is materialized once for its two consumers (word stats +
    // phrase grain); top-20 is a TakeOrdered.
    "text_keyphrases" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tok = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), posexplode(tokens(col("text"))))
        .withColumnRenamed("col", "w")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val ph = tok
        .filter(!col("w").isin(RakeStop: _*) && col("w") =!= "")
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(concat_ws(" ", transform(
            sort_array(collect_list(struct(col("pos"), col("w")))),
            s => s.getField("w"))).as("phrase"),
          count(lit(1)).as("plen"))
        .filter(col("plen") <= RakeMaxLen)
        .localCheckpoint(false)
      val wfp = ph
        .select(explode(split(col("phrase"), " ")).as("w"), col("plen"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .select(col("w"), expr(s"($RakeScale * deg) div freq").as("wfp"))
      ph.groupBy(col("phrase")).agg(count(lit(1)).as("n_occ"))
        .select(col("phrase"), col("n_occ"),
          explode(split(col("phrase"), " ")).as("w"))
        .join(wfp, Seq("w"))
        .groupBy(col("phrase"), col("n_occ"))
        .agg(sum(col("wfp")).as("score_fp"))
        .orderBy(col("score_fp").desc, col("n_occ").desc, col("phrase"))
        .limit(RakeTopN)
    }),

    // Deterministic 10% hash sample (reproducible subset selection).
    "sample_hash" -> ((s, dir) =>
      docs(s, dir)
        .filter(TextOps.hashSample(col("doc_id"), percent = 10))
        .select(col("doc_id"), col("lang"), col("source"))),

    // PII redaction: emails/phones → typed placeholders. The synthetic
    // corpus has no PII, so deterministic PII is injected on doc_id % 3
    // (both engines build the identical augmented string) — the redaction
    // then does real work the oracle replays; output keeps counts + the
    // hash of the redacted text.
    "text_redact" -> ((s, dir) => {
      val aug = docs(s, dir).withColumn("t",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"),
            lit("@example.com tel 555-123-4567")))
          .otherwise(col("text")))
      aug.select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(TextOps.emailPattern), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(TextOps.phonePattern), lit(0)))
          .cast("long").as("n_phones"),
        md5(TextOps.redact(col("t"))).as("redacted_hash"))
    }),

    // Repetition / boilerplate signals: distinct-token share and
    // duplicate-bigram ratio.
    "text_repetition" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id") +:
        TextOps.repetitionColumns(col("text")).map(p => p._2.as(p._1)): _*)),

    // End-to-end corpus curation — the composition a real training-data
    // pipeline runs: language gate → quality gate → exact-dedup canonical
    // → deterministic hash sample. Stages 1-2 are narrow scan-side
    // filters (whole-stage codegen, column-pruned); the only shuffle is
    // the dedup hash partition; the sample is a pushable filter. The
    // same shape at 100 TB: filter early, shuffle once, sample free.
    "corpus_curation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = docs(s, dir)
        .withColumn("lid", langId(tokens(col("text"))))
        .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
        .withColumn("punct_ratio",
          length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("double")
            / length(col("text")).cast("double"))
      val kept = base.filter(col("lid") =!= "und" &&
        col("n_tokens") >= 5 && col("punct_ratio") < 0.2)
      val canon = kept
        .withColumn("content_hash", contentHash(col("text")))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))))
        .filter(col("__rn") === 1)
      canon.filter(TextOps.hashSample(col("doc_id"), 50, "curation"))
        .select(col("doc_id"), col("lid"), col("n_tokens"))
    }),

    // BM25 ranked retrieval over the corpus — the search workload the
    // reference ships rows to Elasticsearch for, run natively (rational
    // idf + fixed-point integer weights; see CorpusOps.bm25Search).
    // Two literal query-term sets: one led by the rarest vocab term
    // ("dup", df 25/500), one of three common terms.
    "text_search_bm25" -> ((s, dir) =>
      graft.operators.CorpusOps.bm25Search(Bm25Queries, Bm25K,
        Bm25K1, Bm25B)(docs(s, dir))),

    // Exact-phrase search (ES match_phrase): consecutive-token match
    // counted via positional shingle hashes — a pure scan-side map,
    // zero shuffles (see CorpusOps.phraseSearch). One multi-occurrence
    // bigram + one trigram phrase keep the counts non-trivial.
    "text_search_phrase" -> ((s, dir) =>
      graft.operators.CorpusOps.phraseSearch(PhraseQueries)(docs(s, dir))),

    // ES span_near (in_order, slop): ordered proximity pairs — the
    // query family between match_phrase (slop 0) and bool. Pure per-doc
    // position arithmetic; see CorpusOps.spanNearSearch.
    "text_search_span" -> ((s, dir) =>
      graft.operators.CorpusOps.spanNearSearch(SpanQueries)(docs(s, dir))),

    // ...and BM25 over the PERSISTED posting index (what the reference
    // ships rows to ES for — built once as parquet, searched many
    // times; raw text never reopened). Same postings, df/dl/stats
    // derived — same oracle replays it unchanged.
    "text_search_bm25_persisted" -> ((s, dir) =>
      graft.operators.CorpusOps.searchBm25Index(s,
        builtBm25Index(s, dir), Bm25Queries, Bm25K, Bm25K1, Bm25B)),

    // match_phrase from the PERSISTED positional index — the execution
    // model ES actually uses (stored position lists, never a source
    // scan): the posting read is term-pruned at the parquet scan, so
    // the query's cost follows its terms' document frequency, not the
    // corpus size (the scan variant above is corpus-linear by design).
    // Positions are exact, so hits are exact-match counts (no shingle
    // hashing — nothing to collide).
    "text_search_phrase_persisted" -> ((s, dir) =>
      graft.operators.CorpusOps.phraseSearchIndex(s,
        builtPosIndex(s, dir), PhraseQueries)),

    // span_near from the same positional index: identical span
    // arithmetic to text_search_span (shared oracle), term-pruned read.
    "text_search_span_persisted" -> ((s, dir) =>
      graft.operators.CorpusOps.spanNearSearchIndex(s,
        builtPosIndex(s, dir), SpanQueries)),

    // highlight from the same positional index: hit positions are read
    // from the stored postings of the query terms (df-bounded,
    // term-pruned scan), never recomputed from text — row-identical to
    // text_search_highlight (shared oracle).
    "text_search_highlight_persisted" -> ((s, dir) =>
      graft.operators.CorpusOps.highlightIndex(s,
        builtPosIndex(s, dir), HighlightQueries)),

    // snippet rendering with index-sourced hits: positions from the
    // postings, doc tokens joined back only for the render step (the
    // ES stored-fields fetch) — row-identical to text_search_snippets
    // (shared oracle).
    "text_search_snippets_persisted" -> ((s, dir) =>
      graft.operators.CorpusOps.snippetsIndex(s,
        builtPosIndex(s, dir), HighlightQueries)(docs(s, dir))),

    // ES field collapsing over the same BM25 retrieval: one best hit
    // per (query, source) group, groups re-ranked by their top hit,
    // inner_hits cardinality reported. Shares the scored-doc stage with
    // text_search_bm25 (one Spark kernel, one oracle CTE chain).
    "text_search_collapse" -> ((s, dir) =>
      graft.operators.CorpusOps.bm25Collapse(Bm25Queries, "source",
        Bm25K, Bm25K1, Bm25B)(docs(s, dir))),

    // ES rescore: the BM25 top-10 window re-scored with an exact-phrase
    // proximity boost and re-ranked (see CorpusOps.bm25Rescore); both
    // primary and final ranks reported.
    "text_search_rescore" -> ((s, dir) =>
      graft.operators.CorpusOps.bm25Rescore(Bm25Queries, RescorePhrases,
        RescoreWindow, RescoreK, RescoreBoost, Bm25K1, Bm25B)(
        docs(s, dir))),

    // ES rescore served entirely from persisted indexes: the BM25
    // primary reads the stored posting table and the phrase rescorer
    // reads the stored POSITION lists (term-pruned scan bounded by the
    // phrase terms' df — the scan variant above re-reads the corpus
    // for its rescore window). Same rescore tail; phrase hits are
    // exact-position counts (no shingle hashing), so the oracle
    // carries the exact-match phrase blocks.
    "text_search_rescore_persisted" -> ((s, dir) =>
      graft.operators.CorpusOps.bm25RescoreIndex(s,
        builtBm25Index(s, dir), builtPosIndex(s, dir), Bm25Queries,
        RescorePhrases, RescoreWindow, RescoreK, RescoreBoost,
        Bm25K1, Bm25B)),

    // RM3 pseudo-relevance feedback: BM25 top-3 feedback docs donate
    // their 2 highest-tf non-query terms, the expanded query rescans
    // through the SAME scorer, and docs surfaced only by expansion
    // report a NULL original rank (see CorpusOps.bm25Rm3) — the
    // query-expansion classic between plain BM25 and a dense retriever.
    "text_search_rm3" -> ((s, dir) =>
      graft.operators.CorpusOps.bm25Rm3(Bm25Queries, Rm3FbDocs,
        Rm3ExpTerms, Bm25K, Bm25K1, Bm25B)(docs(s, dir))),

    // ES boosting query: the positive BM25 retrieval with docs matching
    // the negative term demoted by negative_boost 0.5 (exact integer
    // halving; see CorpusOps.bm25Boosting). The non-demoted minority
    // visibly rises through the demoted majority.
    "text_search_boosting" -> ((s, dir) =>
      graft.operators.CorpusOps.bm25Boosting(Bm25Queries, BoostNegTerms,
        Bm25K, Bm25K1, Bm25B)(docs(s, dir))),

    // ES function_score + rank_feature: every BM25 match re-scored as
    // score·n_chars + boost·saturation(n_chars) — field_value_factor
    // (boost_mode multiply) and the rank_feature saturation curve in
    // exact integer arithmetic (see CorpusOps.bm25FunctionScore). Both
    // primary and final ranks reported; longer docs visibly overtake.
    "text_search_function_score" -> ((s, dir) =>
      graft.operators.CorpusOps.bm25FunctionScore(Bm25Queries, "n_chars",
        FsPivot, FsSatBoost, Bm25K, Bm25K1, Bm25B)(docs(s, dir))),

    // Hybrid retrieval with Reciprocal Rank Fusion (the ES 8.x `rrf`
    // retriever): BM25 lexical top-20 fused with dense hashed-bag
    // cosine top-20 as Σ scale/(60+rank) — integer fixed-point fusion,
    // each side's rank window shared with its standalone registration
    // (BM25 ≡ text_search_bm25's scored chain; the dense space is the
    // "rag:" hashing trick at doc grain). The output shows genuine
    // hybridity: docs ranked by one side only still surface via the
    // other's coalesced-0 contribution.
    "text_search_rrf" -> ((s, dir) =>
      graft.operators.CorpusOps.hybridRrf(Bm25Queries, RrfDims,
        RrfWindow, RrfTopK, RrfKConst, RrfScale, Bm25K1, Bm25B)(
        docs(s, dir))),

    // Fuzzy term match (ES fuzziness:1): SymSpell deletion-join
    // candidates + exact levenshtein verify — never a vocab×query
    // distance scan. Fixtures cover an insertion (scann→scan), a
    // multi-match substitution (sow→row AND slow), and the rare term
    // (dups→dup, df 25/500).
    "text_search_fuzzy" -> ((s, dir) =>
      graft.operators.CorpusOps.fuzzySearch(FuzzyQueries, FuzzyK)(
        docs(s, dir))),

    // Prefix completion (ES completion suggester): df-ranked top-k
    // vocabulary terms per prefix ('s' matches 6 terms, 'co'/'qu' one).
    "text_search_prefix" -> ((s, dir) =>
      graft.operators.CorpusOps.prefixSearch(PrefixQueries, PrefixK)(
        docs(s, dir))),

    // More-like-this (ES more_like_this): top-3 tf/df-salient terms of
    // each seed doc retrieve the rest of the corpus. Seed 8 contains
    // the rare 'dup' term at both test SFs, so salience selection does
    // real work (picks dup over 390-df commons).
    "text_search_mlt" -> ((s, dir) =>
      graft.operators.CorpusOps.moreLikeThis(MltSeeds, MltM, MltK)(
        docs(s, dir))),

    // ES wildcard query: LIKE-pattern term match over the posting
    // frame, docs ranked by summed matching tf; see
    // CorpusOps.wildcardSearch.
    "text_search_wildcard" -> ((s, dir) =>
      graft.operators.CorpusOps.wildcardSearch(WildcardQueries, WildK)(
        docs(s, dir))),

    // ES term suggester: top-k vocabulary corrections per input term,
    // ranked (distance, df desc, term) — SymSpell candidates + exact
    // levenshtein verify; see CorpusOps.termSuggest.
    "text_suggest_terms" -> ((s, dir) =>
      graft.operators.CorpusOps.termSuggest(SuggestQueries, SuggestK)(
        docs(s, dir))),

    // Highlighting (ES highlight): the first number_of_fragments=5
    // (position, term) occurrences of the query terms per (query, doc)
    // in document order — ES's own output bound — zero shuffles, like
    // phrase search.
    "text_search_highlight" -> ((s, dir) =>
      graft.operators.CorpusOps.highlight(HighlightQueries)(docs(s, dir))),

    // Fragment rendering (the rest of the ES highlight response): the
    // first 5 hits per (query, doc) as ±3-token snippet strings with
    // the matched term wrapped in <em>…</em> — zero shuffles; see
    // CorpusOps.snippets.
    "text_search_snippets" -> ((s, dir) =>
      graft.operators.CorpusOps.snippets(HighlightQueries)(docs(s, dir))),

    // Compound bool query (ES bool): must AND NOT mustNot AND ≥minShould
    // of should, ranked by summed should-term tf. Fixture 0 requires
    // 'hash' plus a rare term; fixture 1 is pure-should with a mustNot
    // exclusion that drops the 25 'dup' docs — every clause kind does
    // real work.
    "text_search_bool" -> ((s, dir) =>
      graft.operators.CorpusOps.boolSearch(BoolQueries, BoolK)(
        docs(s, dir))),

    // ...and the same registry percolated from a PERSISTED terms→queries
    // inverted index (the ES percolator at registry scale): the arriving
    // batch's postings broadcast into the stored clause rows, so match
    // work scales with the batch, never with |registry|. Shared clause
    // representation + verdict tail ⇒ the bool oracle replays verbatim.
    "text_percolate" -> ((s, dir) =>
      graft.operators.CorpusOps.percolate(s,
        builtPercolateIndex(s, dir), BoolK)(docs(s, dir))),

    // Significant terms (ES significant_terms, JLH): per-source term
    // signatures vs the corpus background — top-3 over 20 sources.
    "text_significant_terms" -> ((s, dir) =>
      graft.operators.CorpusOps.significantTerms(SigM)(docs(s, dir))),

    // TextRank keywords (Mihalcea-Tarau 2004): PageRank over the
    // corpus-level word co-occurrence graph — adjacent non-stopword
    // token pairs, symmetrized + deduped — the graph-centrality
    // complement of RAKE's deg/freq scoring (same stopword list, same
    // candidate universe, different ranking theory). Reuses the exact
    // integer-fixed-point GraphOps.pageRank kernel, so the scores are
    // bit-identical at any partitioning; the oracle unrolls all rounds.
    // Scale shape: one corpus explode + one vocab²-bounded distinct;
    // every iteration frame is vocabulary-grain; top-20 is a
    // TakeOrdered.
    "text_textrank" -> ((s, dir) => {
      val base = docs(s, dir).filter(col("text").isNotNull)
        .select(tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
      val pairs = base.select(explode(expr(
          "transform(sequence(1, size(tk) - 1)," +
            " i -> struct(tk[i-1] AS w1, tk[i] AS w2))")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .filter(col("w1") =!= col("w2") &&
          !col("w1").isin(RakeStop: _*) && !col("w2").isin(RakeStop: _*))
      val und = pairs.select(least(col("w1"), col("w2")).as("lo"),
          greatest(col("w1"), col("w2")).as("hi")).distinct()
        .localCheckpoint(false) // both edge directions read it
      val edges = und.select(col("lo").as("src"), col("hi").as("dst"))
        .unionAll(und.select(col("hi").as("src"), col("lo").as("dst")))
      val verts = edges.select(col("src").as("id")).distinct()
      // verts IS the distinct src of the SYMMETRIZED edge list, and a
      // symmetric graph's src set equals its dst set — the
      // inEdgeComplete precondition holds by construction, so the
      // kernel skips the per-round vertex restore join (one exchange
      // per round instead of two + two sorts; see GraphOps.pageRank)
      graft.operators.GraphOps.pageRank(edges, verts, TrIters, TrScale,
        inEdgeComplete = true)
        .orderBy(col("rank_fp").desc, col("id"))
        .limit(TrTopN)
        .select(col("id").as("word"), col("rank_fp"))
    }),

    // Hashing-trick featurizer: fixed-width signed bag-of-words, no
    // vocabulary model (sparse (doc, dim, v) rows; FhDims buckets).
    "text_hash_features" -> ((s, dir) =>
      TextOps.hashFeatures(FhDims)(docs(s, dir))),

    // Quality-classifier INFERENCE (the CCNet/fasttext-style linear
    // gate): per-doc logit over ClfDims hashed features + keep verdict —
    // one explode + one per-doc integer aggregate, weights a pure hash
    // function of the dimension (a deployment swaps in its learned
    // vector; the plan shape is identical).
    "text_classify_quality" -> ((s, dir) =>
      TextOps.linearClassify(ClfDims)(docs(s, dir)))
  )

  /** Persisted BM25 posting index, built once per (session, sf-dir) —
    * the build-once/search-many discipline of the ANN index caches.
    */
  private def builtBm25Index(s: SparkSession, dir: String): String =
    TempStores.memo("graft-bm25-index", s, dir)(
      graft.operators.CorpusOps.buildBm25Index(docs(s, dir), _))

  /** Persisted positional index (phrase/span search), same build-once
    * discipline.
    */
  private def builtPosIndex(s: SparkSession, dir: String): String =
    TempStores.memo("graft-pos-index", s, dir)(
      graft.operators.CorpusOps.buildPositionalIndex(docs(s, dir), _))

  /** Persisted percolator registry, built once per session (the stored
    * queries don't vary by sf-dir, but the memo key keeps the
    * one-build-per-input discipline of the other index stores).
    */
  private def builtPercolateIndex(s: SparkSession, dir: String): String =
    TempStores.memo("graft-percolate-index", s, dir)(
      graft.operators.CorpusOps.buildPercolateIndex(s, BoolQueries, _))

  /** Phrase-search query set, interpolated into BOTH engines. */
  private[queries] val PhraseQueries: Seq[(Long, String)] = Seq(
    0L -> "table hash", 1L -> "slow hash batch")

  /** span_near fixtures: (query_id, first term, second term, slop). */
  private[queries] val SpanQueries: Seq[(Long, String, String, Int)] =
    Seq((1L, "table", "scan", 3), (2L, "key", "agg", 2),
      (3L, "spark", "query", 4))

  /** Winnowing shingle size + window (guarantee threshold
    * = WinnowW + WinnowK − 1 = 8 tokens).
    */
  // PMI collocations: min pair count, fixed-point scale, result size
  private[queries] val CollMinPair = 5L
  private[queries] val CollScale = 1000000000000L
  private[queries] val CollTopN = 20
  /** RAKE: phrase-boundary stopwords (the en langMarkers list — the one
    * function-word set this synthetic corpus contains), candidate cap
    * (the practical RAKE device for stopword-sparse text: uncapped, the
    * top-k is just the longest runs), fixed-point scale, result size.
    */
  private[queries] val RakeStop = Seq("the", "a", "of", "and", "is")
  private[queries] val RakeMaxLen = 4
  private[queries] val RakeScale = 1000000L
  private[queries] val RakeTopN = 20
  private[queries] val WinnowK = 5
  private[queries] val WinnowW = 4
  /** TextRank: power-iteration rounds, fixed-point scale, result size
    * (stopwords = RakeStop — one list for both keyphrase extractors).
    */
  private[queries] val TrIters = 10
  private[queries] val TrScale = 1000000000000L
  private[queries] val TrTopN = 20

  /** Rescore phrases (one per BM25 query id) + window/boost — both
    * phrases occur 35-40× in the corpus so the secondary signal
    * actually reorders the primary window.
    */
  private[queries] val RescorePhrases: Seq[(Long, String)] = Seq(
    0L -> "spark big", 1L -> "spark join")
  private[queries] val RescoreWindow = 10
  private[queries] val RescoreK = 5
  private[queries] val RescoreBoost = 1000000L

  /** BM25 query-term sets + top-k, interpolated into BOTH engines. */
  private[queries] val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "dup", 0L -> "spark",
    1L -> "hash", 1L -> "join", 1L -> "key")
  private[queries] val Bm25K = 10
  private[queries] val Bm25K1 = 1.2
  private[queries] val Bm25B = 0.75

  /** function_score: rank_feature saturation pivot (chars) + its
    * fixed-point boost weight, interpolated into BOTH engines.
    */
  private[queries] val FsPivot = 300L
  private[queries] val FsSatBoost = 1000000L

  /** boosting query: the negative term set (negative_boost is the exact
    * integer halving, so no double constant to share).
    */
  private[queries] val BoostNegTerms = Seq("slow")

  /** RM3 pseudo-relevance feedback: feedback depth and expansion width. */
  private[queries] val Rm3FbDocs = 3
  private[queries] val Rm3ExpTerms = 2

  /** RRF hybrid fusion: dense hashed-feature width, per-side window,
    * fused top-k, the standard rrf k=60, and the integer fusion scale.
    */
  private[queries] val RrfDims = 32
  private[queries] val RrfWindow = 20
  private[queries] val RrfTopK = 10
  private[queries] val RrfKConst = 60
  private[queries] val RrfScale = 1000000000L

  /** Fuzzy / prefix / more-like-this fixtures + limits, interpolated
    * into BOTH engines (tuned against the corpus vocabulary — see the
    * registration comments for what each exercises).
    */
  private[queries] val FuzzyQueries: Seq[(Long, String)] = Seq(
    0L -> "scann", 1L -> "sow", 2L -> "dups")
  private[queries] val FuzzyK = 10
  private[queries] val PrefixQueries: Seq[(Long, String)] = Seq(
    0L -> "s", 1L -> "co", 2L -> "qu")
  private[queries] val PrefixK = 5
  private[queries] val MltSeeds: Seq[(Long, Long)] = Seq(
    0L -> 8L, 1L -> 17L)
  /** term-suggester fixtures: a deletion typo with one clear correction
    * ("tble" → table; note "tabel" would NOT work — a transposition is
    * Levenshtein 2), one with several candidates ("sow" → slow/row),
    * and an exact vocab term (suggests itself at distance 0,
    * `suggest_mode: always`).
    */
  private[queries] val SuggestQueries: Seq[(Long, String)] = Seq(
    0L -> "tble", 1L -> "sow", 2L -> "query")
  private[queries] val SuggestK = 3
  /** wildcard patterns (SQL LIKE; `%` ≡ ES `*`). */
  private[queries] val WildcardQueries: Seq[(Long, String)] = Seq(
    0L -> "ta%le", 1L -> "s%w", 2L -> "%ue%")
  private[queries] val WildK = 5
  /** Highlight fixtures: the BM25 rare+common mix as grouped term sets
    * (multi-term query 0, single-term query 1).
    */
  private[queries] val HighlightQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("dup", "spark"), 1L -> Seq("hash"))
  private[queries] val BoolQueries
      : Seq[graft.operators.CorpusOps.BoolQuery] = Seq(
    graft.operators.CorpusOps.BoolQuery(0L, must = Seq("hash"),
      should = Seq("dup", "spark"), minShould = 1),
    graft.operators.CorpusOps.BoolQuery(1L,
      should = Seq("join", "key", "merge"), mustNot = Seq("dup"),
      minShould = 2))
  private[queries] val BoolK = 10
  private[queries] val SigM = 3
  private[queries] val SigScaleSql: String =
    graft.operators.CorpusOps.SigScale.toString
  private[queries] val FhDims = 16
  private[queries] val ClfDims = 64
  private[queries] val MltM = 3
  private[queries] val MltK = 10
  /** The ONE Scala scale constant, round-tripped via toString so the
    * parsed SQL double equals the Spark literal bit-for-bit.
    */
  private[queries] val MltScaleSql: String =
    graft.operators.CorpusOps.MltScale.toString

  import Duck._

  /** lang-ID CASE expression ≡ TextOps.langId (earlier language wins
    * ties) — shared by the lang-id and curation oracles, and by the
    * per-source quality dashboard in [[CorpusQueries]].
    */
  private[queries] def langCase: String = {
    val scores = TextOps.langMarkers.map { case (l, ws) =>
      l -> markerHits(toks, ws)
    }
    val cases = scores.zipWithIndex.map { case ((l, sc), i) =>
      val rest = scores.drop(i + 1).map(_._2)
      val cond =
        if (rest.isEmpty) s"$sc > 0"
        else s"$sc > 0 AND $sc >= greatest(${rest.mkString(", ")})"
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  val oracles: Map[String, String] = Map(
    "text_token_count" ->
      s"""SELECT doc_id, length($toks) AS n_tokens,
          length(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe_tokens
          FROM documents""",
    "text_quality" ->
      s"""SELECT doc_id, length($toks) AS n_tokens,
          length(text) AS n_chars_sp,
          $nPunct AS n_punct,
          list_sum(list_transform($toks, t -> length(t)))::DOUBLE
            / length($toks)::DOUBLE AS avg_token_len,
          $nPunct::DOUBLE / length(text)::DOUBLE AS punct_ratio,
          ${markerHits(toks, TextOps.langMarkers.flatMap(_._2))}::DOUBLE
            / length($toks)::DOUBLE AS stopword_ratio
          FROM documents""",
    "text_lang_id" ->
      s"""SELECT doc_id, $langCase AS lang_guess
          FROM documents""",
    "text_langid_confusion" ->
      s"""WITH c AS (SELECT lang, $langCase AS lid, count(*) AS n
                     FROM documents GROUP BY 1, 2),
          t AS (SELECT lang, sum(n)::BIGINT AS tot FROM c GROUP BY 1)
          SELECT c.lang, c.lid, c.n,
                 CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share
          FROM c JOIN t USING (lang)""",
    "text_fingerprint" ->
      s"""SELECT doc_id,
          md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
            AS content_hash,
          list_min(list_transform(
            range(0, greatest(length($toks) - 5, 0) + 1),
            i -> ${h15(s"array_to_string(($toks)[i+1:i+5], ' ')")}))
            AS shingle_fp
          FROM documents""",
    "text_winnowing" -> {
      val hs = s"""list_transform(
            range(0, greatest(length(tk) - $WinnowK, 0) + 1),
            i -> ${h15(s"array_to_string(tk[i+1:i+$WinnowK], ' ')")})"""
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents
                     WHERE text IS NOT NULL),
          h AS (SELECT doc_id, $hs AS hsh FROM d),
          w AS (SELECT doc_id, hsh,
                  list_distinct(list_transform(
                    range(0, greatest(length(hsh) - $WinnowW, 0) + 1),
                    i -> list_min(hsh[i+1:i+$WinnowW]))) AS fps
                FROM h)
          SELECT doc_id, length(hsh)::BIGINT AS n_shingles,
            length(fps)::BIGINT AS n_fingerprints,
            list_min(hsh) AS min_fp,
            length(fps)::DOUBLE / length(hsh)::DOUBLE AS fp_density
          FROM w"""
    },
    "text_keyphrases" -> {
      val stopList = RakeStop.map(w => s"'$w'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, t.i AS pos, d.tk[t.i] AS w
              FROM (SELECT doc_id, $toks AS tk FROM documents
                    WHERE text IS NOT NULL) d
              CROSS JOIN LATERAL (
                SELECT unnest(range(1, len(d.tk)+1)) AS i) t),
          rk_ns AS (SELECT doc_id, pos, w,
               pos - row_number() OVER (PARTITION BY doc_id
                 ORDER BY pos) AS grp
             FROM tok WHERE w NOT IN ($stopList) AND w <> ''),
          rk_ph AS (SELECT doc_id, grp,
               string_agg(w, ' ' ORDER BY pos) AS phrase,
               count(*)::BIGINT AS plen
             FROM rk_ns GROUP BY 1, 2
             HAVING count(*) <= $RakeMaxLen),
          rk_ws AS (SELECT w, count(*)::BIGINT AS freq,
               sum(plen)::BIGINT AS deg
             FROM (SELECT unnest(string_split(phrase, ' ')) AS w, plen
                   FROM rk_ph)
             GROUP BY 1),
          rk_wfp AS (SELECT w, (($RakeScale * deg) // freq)::BIGINT
               AS wfp FROM rk_ws),
          rk_d AS (SELECT phrase, count(*)::BIGINT AS n_occ
             FROM rk_ph GROUP BY 1)
          SELECT d.phrase, d.n_occ, CAST(sum(f.wfp) AS BIGINT)
            AS score_fp
          FROM rk_d d
          CROSS JOIN LATERAL (
            SELECT unnest(string_split(d.phrase, ' ')) AS w) u
          JOIN rk_wfp f ON f.w = u.w
          GROUP BY 1, 2
          ORDER BY score_fp DESC, n_occ DESC, phrase LIMIT $RakeTopN"""
    },
    "text_collocations" ->
      s"""WITH tok AS (SELECT $toks AS tk FROM documents
                       WHERE text IS NOT NULL),
          uni AS (SELECT t AS w, count(*)::BIGINT AS c1
                  FROM (SELECT unnest(tk) AS t FROM tok) GROUP BY 1),
          bi AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM (
                   SELECT unnest(tk[1:len(tk)-1]) AS w1,
                          unnest(tk[2:len(tk)]) AS w2
                   FROM tok WHERE len(tk) >= 2)
                 GROUP BY 1, 2 HAVING count(*) >= $CollMinPair)
          SELECT b.w1, b.w2, b.c12, u1.c1 AS c1, u2.c1 AS c2,
            (($CollScale * b.c12) // (u1.c1 * u2.c1))::BIGINT AS pmi_fp
          FROM bi b
          JOIN uni u1 ON u1.w = b.w1
          JOIN uni u2 ON u2.w = b.w2
          ORDER BY pmi_fp DESC, b.w1, b.w2 LIMIT $CollTopN""",
    "sample_hash" ->
      s"""SELECT doc_id, lang, source FROM documents
          WHERE ${h15("concat('sample:', doc_id::VARCHAR)")} % 100 < 10""",
    "text_redact" -> {
      // the SAME pattern objects the Spark side evaluates
      val email = TextOps.emailPattern
      val phone = TextOps.phonePattern
      s"""WITH a AS (SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' contact user' || doc_id::VARCHAR
                         || '@example.com tel 555-123-4567'
                    ELSE text END AS t
             FROM documents)
          SELECT doc_id,
            length(regexp_extract_all(t, '$email')) AS n_emails,
            length(regexp_extract_all(t, '$phone')) AS n_phones,
            md5(regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'),
                               '$phone', '<PHONE>', 'g')) AS redacted_hash
          FROM a"""
    },
    "text_repetition" ->
      s"""SELECT doc_id,
            CASE WHEN length($toks) = 0 THEN CAST(1.0 AS DOUBLE)
                 ELSE length(list_distinct($toks))::DOUBLE
                      / length($toks)::DOUBLE END
              AS token_distinct_ratio,
            CASE WHEN length($toks) < 2 THEN CAST(0.0 AS DOUBLE)
                 ELSE 1.0 - length(${shingles(2)})::DOUBLE
                      / (greatest(length($toks) - 2, 0) + 1)::DOUBLE END
              AS bigram_dup_ratio
          FROM documents""",
    "corpus_curation" ->
      s"""WITH t AS (SELECT doc_id, text,
                       $langCase AS lid,
                       length($toks) AS n_tokens,
                       $nPunct::DOUBLE / length(text)::DOUBLE AS punct_ratio
                     FROM documents),
          k AS (SELECT doc_id, text, lid, n_tokens FROM t
                WHERE lid <> 'und' AND n_tokens >= 5 AND punct_ratio < 0.2),
          c AS (SELECT doc_id, lid, n_tokens,
                  row_number() OVER (
                    PARTITION BY md5(regexp_replace(lower(trim(text)),
                                                    '\\s+', ' ', 'g'))
                    ORDER BY doc_id) AS rn
                FROM k)
          SELECT doc_id, lid, n_tokens FROM c
          WHERE rn = 1
            AND ${h15("concat('curation:', doc_id::VARCHAR)")} % 100 < 50""",

    "text_search_bm25" -> bm25Sql,
    "text_search_rrf" -> rrfSql,
    "text_textrank" -> textrankSql,
    "text_search_collapse" -> collapseSql,
    "text_search_rescore" -> rescoreSql,
    "text_search_rescore_persisted" -> rescorePersistedSql,
    "text_search_function_score" -> functionScoreSql,
    "text_search_boosting" -> boostingSql,
    "text_search_rm3" -> rm3Sql,
    "text_readability" ->
      """WITH per AS (
           SELECT source,
             CAST(length(list_filter(string_split_regex(trim(text),
               '\s+'), w -> w <> '')) AS BIGINT) AS w,
             greatest(CAST(1 AS BIGINT),
               CAST(length(list_filter(string_split_regex(text,
                 '[.!?]+'), x -> trim(x) <> '')) AS BIGINT)) AS st,
             COALESCE(list_sum(list_transform(
               list_filter(string_split_regex(trim(text), '\s+'),
                 w -> w <> ''),
               w -> greatest(CAST(1 AS BIGINT),
                 CAST(length(list_filter(string_split_regex(lower(w),
                   '[^aeiouy]+'), p -> p <> '')) AS BIGINT)))), 0)
               ::BIGINT AS sy
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT source, count(*) AS n_docs, sum(w)::BIGINT AS tw,
                  sum(st)::BIGINT AS ts, sum(sy)::BIGINT AS tsy
           FROM per GROUP BY 1)
         SELECT source, n_docs, tw AS total_words,
                ts AS total_sentences, tsy AS total_syllables,
                206.835 - 1.015 * (CAST(tw AS DOUBLE) / CAST(ts AS DOUBLE))
                  - 84.6 * (CAST(tsy AS DOUBLE) / CAST(tw AS DOUBLE))
                  AS flesch_ease,
                0.39 * (CAST(tw AS DOUBLE) / CAST(ts AS DOUBLE))
                  + 11.8 * (CAST(tsy AS DOUBLE) / CAST(tw AS DOUBLE))
                  - 15.59 AS fk_grade
         FROM g""",
    // persisted search: same postings (df/dl/stats derive from them),
    // same tail — same replay
    "text_search_bm25_persisted" -> bm25Sql,
    "text_search_fuzzy" -> fuzzySql,
    "text_suggest_terms" -> suggestSql,
    "text_search_wildcard" -> wildcardSql,
    "text_search_prefix" -> prefixSql,
    "text_search_mlt" -> mltSql,

    // bool replay: the same exploded clause rows and per-query literals
    // as Spark (one VALUES per view), one conditional aggregate, the
    // same verdict filter and top-k
    "text_search_bool" -> boolSql,
    // percolate serves the SAME registry from the persisted inverted
    // index — shared clause rows + verdict tail, same replay
    "text_percolate" -> boolSql,

    // feature-hashing replay: same 60-bit hash, bucket = hv % dims,
    // sign from the next bit (hv // dims % 2), order-free integer sums
    "text_hash_features" ->
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents
                     WHERE text IS NOT NULL),
          h AS (SELECT doc_id,
                  ${h15("concat('fh:', t)")} AS hv
                FROM d, unnest(tk) AS u(t))
          SELECT doc_id, (hv % $FhDims)::BIGINT AS dim,
            sum(CASE WHEN (hv // $FhDims) % 2 = 0 THEN 1 ELSE -1
              END)::BIGINT AS v
          FROM h GROUP BY 1, 2""",

    // classifier replay: same dim/sign derivation as the featurizer,
    // weight = h15('clf:w:' || dim) % 1001 − 500 inline, one integer
    // sum per doc; tokenless docs fall back to the bias via the left
    // join (logit 0 here)
    "text_classify_quality" -> clfSql,

    // significant-terms replay: posting presence, per-source and
    // background df, JLH in the SAME association order
    // (((fg%−bg%)·fg%)/bg%), fixed-pointed before filter AND order so
    // both engines rank identically
    "text_significant_terms" ->
      s"""WITH d AS (SELECT doc_id, source, $toks AS tk FROM documents
                     WHERE text IS NOT NULL),
          pres AS (SELECT DISTINCT doc_id, source, t AS term
                   FROM d, unnest(tk) AS u(t)),
          fg AS (SELECT source, term, count(*)::BIGINT AS fg_df
                 FROM pres GROUP BY 1, 2),
          bg AS (SELECT term, count(*)::BIGINT AS bg_df
                 FROM pres GROUP BY 1),
          fgt AS (SELECT source, count(*)::BIGINT AS fg_total
                  FROM d GROUP BY 1),
          n AS (SELECT count(*)::BIGINT AS bg_total FROM d),
          j AS (SELECT source, term,
                  floor($SigScaleSql *
                    ((((fg_df::DOUBLE / fg_total::DOUBLE)
                       - (bg_df::DOUBLE / bg_total::DOUBLE))
                      * (fg_df::DOUBLE / fg_total::DOUBLE))
                     / (bg_df::DOUBLE / bg_total::DOUBLE)))::BIGINT
                    AS score_fp
                FROM fg JOIN fgt USING (source) JOIN bg USING (term)
                     CROSS JOIN n)
          SELECT source, term, score_fp, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY score_fp DESC, term) AS rank
            FROM j WHERE score_fp > 0) WHERE rank <= $SigM""",

    // highlight replay: positional struct list filtered by term
    // membership, sliced to the first number_of_fragments=5 hits per
    // (query, doc) — both engines walk the same 1-based token
    // positions; the persisted registration reads the SAME rows from
    // the stored postings, so one oracle serves both
    "text_search_highlight" -> highlightSql,
    "text_search_highlight_persisted" -> highlightSql,

    // snippet replay: hit positions sliced to the first 5, each rendered
    // as a ±3-token window with the hit term <em>-wrapped — both engines
    // build the same window bounds and the same joined string; shared
    // with the index-sourced persisted registration
    "text_search_snippets" -> snippetsSql,
    "text_search_snippets_persisted" -> snippetsSql,

    // phrase replay: positional shingle hashes (sequence is INCLUSIVE
    // on both ends in Spark, so range goes to m+1 here), hash-equality
    // count — both engines compare the SAME 60-bit hashes
    "text_search_phrase" -> {
      val blocks = PhraseQueries.map { case (qid, phrase) =>
        val k = phrase.trim.split("\\s+").length
        s"""SELECT $qid::BIGINT AS query_id, doc_id,
              length(list_filter(
                list_transform(range(0, greatest(length(tk) - $k, 0) + 1),
                  i -> ${h15(s"array_to_string(tk[i+1:i+$k], ' ')")}),
                h -> h = ${h15(s"'$phrase'")}))::BIGINT AS n_hits
            FROM d"""
      }.mkString(" UNION ALL ")
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents
                     WHERE text IS NOT NULL)
          SELECT query_id, doc_id, n_hits FROM ($blocks)
          WHERE n_hits > 0"""
    },
    "text_search_span" -> spanSql,

    // persisted phrase: EXACT positional matching (the index stores
    // real positions — no shingle hashes, so the replay is direct token
    // equality at consecutive positions, not hash equality)
    "text_search_phrase_persisted" -> {
      val blocks = PhraseQueries.map { case (qid, phrase) =>
        val ts = phrase.trim.split("\\s+")
        val m = ts.length
        val cond = ts.zipWithIndex
          .map { case (t, i) => s"tk[p+$i] = ${sqlStr(t)}" }
          .mkString(" AND ")
        s"""SELECT $qid::BIGINT AS query_id, doc_id,
              length(list_filter(
                range(1, greatest(length(tk) - $m, 0) + 2),
                p -> $cond))::BIGINT AS n_hits
            FROM d"""
      }.mkString(" UNION ALL ")
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents
                     WHERE text IS NOT NULL)
          SELECT query_id, doc_id, n_hits FROM ($blocks)
          WHERE n_hits > 0"""
    },

    // persisted span: the stored position lists ARE the lists the scan
    // variant derives — one oracle serves both registrations
    "text_search_span_persisted" -> spanSql
  )

  /** Highlight replay shared by the scan and persisted-index
    * registrations (the stored postings hold the same 1-based
    * positions the scan derives; only the Spark-side read differs).
    */
  private def highlightSql: String = {
    val values = HighlightQueries.map { case (q, ts) =>
      s"($q::BIGINT, ${ts.map(sqlStr).mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents
                   WHERE text IS NOT NULL),
        q AS (SELECT * FROM (VALUES $values) v(query_id, terms))
        SELECT query_id, doc_id, u.h.pos::BIGINT AS pos, u.h.t AS term
        FROM q, d, unnest((list_filter(
               list_transform(range(1, length(tk)+1),
                 i -> struct_pack(pos := i, t := tk[i])),
               s -> list_contains(terms, s.t)))[1:5]) AS u(h)"""
  }

  /** Snippet replay shared by the scan and persisted-index
    * registrations (same window bounds, same joined string).
    */
  private def snippetsSql: String = {
    val values = HighlightQueries.map { case (q, ts) =>
      s"($q::BIGINT, ${ts.map(sqlStr).mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents
                   WHERE text IS NOT NULL),
        q AS (SELECT * FROM (VALUES $values) v(query_id, terms)),
        h0 AS (SELECT query_id, doc_id, tk,
                 (list_filter(range(1, length(tk)+1),
                    i -> list_contains(terms, tk[i])))[1:5] AS hl
               FROM q, d),
        h AS (SELECT query_id, doc_id, tk,
                u.s.frag_no AS frag_no, u.s.hit AS hit
              FROM h0, unnest(list_transform(range(1, length(hl)+1),
                k -> struct_pack(frag_no := k, hit := hl[k]))) AS u(s))
        SELECT query_id, doc_id, frag_no::BIGINT AS frag_no,
          array_to_string(list_transform(
            range(greatest(hit-3, 1), least(hit+3, length(tk))+1),
            j -> CASE WHEN j = hit THEN '<em>' || tk[j] || '</em>'
                      ELSE tk[j] END), ' ') AS fragment
        FROM h"""
  }

  /** span_near replay shared by the scan and persisted-index
    * registrations (identical span arithmetic; only the Spark-side read
    * path differs).
    */
  private def spanSql: String = {
    def posOf(term: String) =
      s"""list_filter(list_transform(
            list_zip(tk, range(1, len(tk) + 1)),
            x -> CASE WHEN x[1] = '$term' THEN x[2] ELSE -1 END),
          v -> v > 0)"""
    val blocks = SpanQueries.map { case (qid, t1, t2, slop) =>
      val w = slop + 1
      s"""SELECT $qid::BIGINT AS query_id, doc_id,
            COALESCE(CAST(list_sum(list_transform(${posOf(t1)},
              p1 -> len(list_filter(${posOf(t2)},
                p2 -> p2 > p1 AND p2 <= p1 + $w)))) AS BIGINT), 0)
              AS n_spans
          FROM d"""
    }.mkString(" UNION ALL ")
    s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents
                   WHERE text IS NOT NULL)
        SELECT query_id, doc_id, n_spans FROM ($blocks)
        WHERE n_spans > 0"""
  }

  /** BM25 replay: inverted index (tf), df, dl = sum(tf) per doc (the
    * same derivation Spark uses — no second tokenize), 1-row stats,
    * per-term fixed-point weight in the same association order, integer
    * sum per doc, top-k window. Constants interpolated from the ONE
    * Scala definition (Bm25K1/Bm25B; derived 1−b and k1+1 are computed
    * in Scala and round-trip through toString). Shared verbatim by the
    * in-memory and persisted registrations.
    */
  /** Bool replay: the same exploded clause rows and per-query literals
    * as Spark (one VALUES per view), one conditional aggregate, the
    * same verdict filter and top-k. Shared verbatim by the in-memory
    * (`text_search_bool`) and persisted-percolator (`text_percolate`)
    * registrations — both engines serve one registry definition.
    */
  private def boolSql: String = {
    val terms = BoolQueries.flatMap(q =>
      q.must.map((q.id, _, "must")) ++
        q.should.map((q.id, _, "should")) ++
        q.mustNot.map((q.id, _, "must_not")))
      .map { case (id, t, k) => s"($id::BIGINT, ${sqlStr(t)}, '$k')" }
      .mkString(", ")
    val meta = BoolQueries
      .map(q => s"(${q.id}::BIGINT, ${q.must.size}::BIGINT, " +
        s"${q.minShould}::BIGINT)")
      .mkString(", ")
    s"""$postingsCtes,
          q AS (SELECT * FROM (VALUES $terms) v(query_id, term, kind)),
          meta AS (SELECT * FROM (VALUES $meta)
                   v(query_id, must_req, min_should)),
          m AS (SELECT query_id, doc_id,
                  sum(CASE WHEN kind = 'must' THEN 1 ELSE 0 END)::BIGINT
                    AS n_must,
                  sum(CASE WHEN kind = 'should' THEN 1 ELSE 0 END)::BIGINT
                    AS n_should,
                  sum(CASE WHEN kind = 'must_not' THEN 1 ELSE 0
                    END)::BIGINT AS n_mustnot,
                  sum(CASE WHEN kind = 'should' THEN tf ELSE 0
                    END)::BIGINT AS score_hits
                FROM q JOIN tf USING (term) GROUP BY 1, 2),
          sel AS (SELECT m.query_id, doc_id, n_should, score_hits
                  FROM m JOIN meta ON meta.query_id = m.query_id
                  WHERE n_must = must_req AND n_mustnot = 0
                    AND n_should >= min_should)
          SELECT query_id, doc_id, n_should, score_hits, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score_hits DESC, doc_id) AS rank
            FROM sel) WHERE rank <= $BoolK"""
  }

  /** The BM25 scored-doc CTE chain (postings → dl/stats → per-(query,
    * doc) integer scores in `doc`), shared by the ranked search and the
    * field-collapsing search ≡ CorpusOps.bm25ScoredFromTf.
    */
  /** The scored/doc CTE pair from a given query-term CTE name, output
    * names prefixed with `p` — ONE scoring-formula definition for every
    * consumer (the base retrieval and the RM3 expanded rescan).
    */
  private def bm25ScoreChain(qtName: String, p: String): String =
    s"""${p}scored AS (SELECT $qtName.query_id, tf.doc_id,
              floor(1000000.0
                * ((s.n - dfreq.df::DOUBLE + 0.5)
                   / (dfreq.df::DOUBLE + 0.5))
                * (tf.tf::DOUBLE * ${Bm25K1 + 1.0})
                / (tf.tf::DOUBLE + $Bm25K1 * (${1.0 - Bm25B}
                     + ($Bm25B * dl.dl::DOUBLE) / s.avgdl)))::BIGINT AS w
            FROM $qtName JOIN tf USING (term) JOIN dfreq USING (term)
                 JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s),
          ${p}doc AS (SELECT query_id, doc_id, sum(w)::BIGINT AS score,
                    count(*)::BIGINT AS n_terms_hit
                  FROM ${p}scored GROUP BY 1, 2)"""

  private def bm25DocCtes: String = {
    val values = Bm25Queries
      .map { case (q, t) => s"($q::BIGINT, ${sqlStr(t)})" }.mkString(", ")
    s"""$postingsCtes,
          dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf
                 GROUP BY doc_id),
          stats AS (SELECT count(*)::DOUBLE AS n,
                      sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl
                    FROM dl),
          qt AS (SELECT * FROM (VALUES $values) q(query_id, term)),
          ${bm25ScoreChain("qt", "")}"""
  }

  /** RM3 replay: the base chain, the feedback cut, the tf-ranked
    * expansion terms (anti-joined against the original set), the
    * expanded rescan through the SAME score chain, and the final
    * re-rank with the honest NULL original rank.
    */
  private def rm3Sql: String =
    s"""$bm25DocCtes,
          r_fb AS (SELECT query_id, doc_id FROM (
              SELECT query_id, doc_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS r0
              FROM doc) WHERE r0 <= $Rm3FbDocs),
          r_cand AS (SELECT f.query_id, tf.term,
                       sum(tf.tf)::BIGINT AS ftf
                     FROM r_fb f JOIN tf ON tf.doc_id = f.doc_id
                     LEFT JOIN qt q ON q.query_id = f.query_id
                       AND q.term = tf.term
                     WHERE q.term IS NULL GROUP BY 1, 2),
          r_exp AS (SELECT query_id, term FROM (
              SELECT query_id, term,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY ftf DESC, term) AS rr
              FROM r_cand) WHERE rr <= $Rm3ExpTerms),
          qt2 AS (SELECT query_id, term FROM qt
                  UNION ALL SELECT query_id, term FROM r_exp),
          ${bm25ScoreChain("qt2", "x_")},
          r_rank0 AS (SELECT query_id, doc_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank0
              FROM doc)
          SELECT x.query_id, x.doc_id, x.score, x.n_terms_hit, x.rank,
                 r0.rank0
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank FROM x_doc) x
          LEFT JOIN r_rank0 r0 ON r0.query_id = x.query_id
            AND r0.doc_id = x.doc_id
          WHERE x.rank <= $Bm25K"""

  /** TextRank replay: the collocation-style zipped bigram pairs,
    * symmetrize + dedup, then `TrIters` unrolled PageRank rounds —
    * the same `(r // deg)` / `teleport + (17·c) // 20` BIGINT
    * arithmetic as GraphOps.pageRank (and the knn pageRankSql).
    */
  private def textrankSql: String = {
    val stop = RakeStop.map(sqlStr).mkString(", ")
    val iterCtes = (1 to TrIters).map { i =>
      s"""tr_c$i AS (SELECT e.dst AS id, sum(r.r // e.deg)::BIGINT AS c
                 FROM tr_ed e JOIN tr_r${i - 1} r ON r.id = e.src
                 GROUP BY 1),
          tr_r$i AS (SELECT v.id,
                   ((3 * ($TrScale // tr_n.n)) // 20
                    + (17 * COALESCE(c.c, 0)) // 20)::BIGINT AS r
                 FROM tr_v v CROSS JOIN tr_n
                      LEFT JOIN tr_c$i c ON c.id = v.id)"""
    }.mkString(",\n")
    s"""WITH tok AS (SELECT $toks AS tk FROM documents
                     WHERE text IS NOT NULL),
        tr_bi AS (SELECT w1, w2 FROM (
                 SELECT unnest(tk[1:len(tk)-1]) AS w1,
                        unnest(tk[2:len(tk)]) AS w2
                 FROM tok WHERE len(tk) >= 2)
               WHERE w1 <> w2 AND w1 NOT IN ($stop)
                 AND w2 NOT IN ($stop)),
        tr_u AS (SELECT DISTINCT least(w1, w2) AS lo,
                   greatest(w1, w2) AS hi FROM tr_bi),
        tr_e AS (SELECT lo AS src, hi AS dst FROM tr_u
                 UNION ALL SELECT hi, lo FROM tr_u),
        tr_v AS (SELECT DISTINCT src AS id FROM tr_e),
        tr_n AS (SELECT count(*)::BIGINT AS n FROM tr_v),
        tr_deg AS (SELECT src, count(*)::BIGINT AS deg FROM tr_e
                GROUP BY 1),
        tr_ed AS (SELECT e.src, e.dst, d.deg FROM tr_e e
                JOIN tr_deg d USING (src)),
        tr_r0 AS (SELECT id, ($TrScale // tr_n.n)::BIGINT AS r
               FROM tr_v CROSS JOIN tr_n),
        $iterCtes
        SELECT id AS word, r AS rank_fp FROM tr_r$TrIters
        ORDER BY rank_fp DESC, word LIMIT $TrTopN"""
  }

  /** RRF replay: the shared BM25 scored chain gives the lexical window;
    * the dense side rebuilds the "rag:" signed hashed doc vectors FROM
    * THE SAME tf CTE (weights = tf, query weights = 1, ≡
    * CorpusOps.hybridRrf); fusion and re-rank are integer `//`.
    */
  private def rrfSql: String =
    s"""$bm25DocCtes,
          rrf_lex AS (SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id) AS bm25_rank
                 FROM doc QUALIFY bm25_rank <= $RrfWindow),
          rrf_dv AS (SELECT doc_id, hv % $RrfDims AS dim,
                   sum(CASE WHEN (hv // $RrfDims) % 2 = 0 THEN tf
                     ELSE -tf END)::BIGINT AS v
                 FROM (SELECT doc_id, tf,
                         ${h15("concat('rag:', term)")} AS hv FROM tf)
                 GROUP BY 1, 2),
          rrf_qv AS (SELECT query_id, hv % $RrfDims AS dim,
                   sum(CASE WHEN (hv // $RrfDims) % 2 = 0 THEN 1
                     ELSE -1 END)::BIGINT AS v
                 FROM (SELECT query_id,
                         ${h15("concat('rag:', term)")} AS hv FROM qt)
                 GROUP BY 1, 2),
          rrf_dn AS (SELECT doc_id, sum(v * v)::BIGINT AS dn
                 FROM rrf_dv GROUP BY 1),
          rrf_qn AS (SELECT query_id, sum(v * v)::BIGINT AS qn
                 FROM rrf_qv GROUP BY 1),
          rrf_dot AS (SELECT q.query_id, d.doc_id,
                   sum(d.v * q.v)::BIGINT AS dot
                 FROM rrf_dv d JOIN rrf_qv q USING (dim) GROUP BY 1, 2),
          rrf_den AS (SELECT t.query_id, t.doc_id,
                   row_number() OVER (PARTITION BY t.query_id
                     ORDER BY CAST(t.dot AS DOUBLE) /
                       (sqrt(CAST(n.dn AS DOUBLE)) *
                        sqrt(CAST(qq.qn AS DOUBLE))) DESC,
                       t.doc_id) AS dense_rank
                 FROM rrf_dot t JOIN rrf_dn n USING (doc_id)
                      JOIN rrf_qn qq USING (query_id)
                 WHERE n.dn > 0 AND qq.qn > 0
                 QUALIFY dense_rank <= $RrfWindow),
          rrf_f AS (SELECT COALESCE(l.query_id, d.query_id) AS query_id,
                   COALESCE(l.doc_id, d.doc_id) AS doc_id,
                   l.bm25_rank::BIGINT AS bm25_rank,
                   d.dense_rank::BIGINT AS dense_rank,
                   (COALESCE($RrfScale // ($RrfKConst + l.bm25_rank), 0)
                    + COALESCE($RrfScale // ($RrfKConst + d.dense_rank),
                        0))::BIGINT AS rrf_fp
                 FROM rrf_lex l FULL OUTER JOIN rrf_den d
                   ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
          SELECT query_id, doc_id, bm25_rank, dense_rank, rrf_fp, rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf_fp DESC, doc_id) AS rank FROM rrf_f)
          WHERE rank <= $RrfTopK"""

  private def bm25Sql: String =
    s"""$bm25DocCtes
          SELECT query_id, doc_id, n_terms_hit, score, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id) AS rank
            FROM doc) WHERE rank <= $Bm25K"""

  /** Rescore replay: the shared scored-doc chain, primary top-window
    * QUALIFY, the phrase-hit blocks (same positional-shingle-hash
    * arithmetic as text_search_phrase, over the chain's `d`), boost +
    * re-rank.
    */
  private def rescoreSql: String =
    rescoreSqlWith(RescorePhrases.map { case (qid, phrase) =>
      val k = phrase.trim.split("\\s+").length
      s"""SELECT $qid::BIGINT AS query_id, doc_id,
            length(list_filter(
              list_transform(range(0, greatest(length(tk) - $k, 0) + 1),
                i -> ${h15(s"array_to_string(tk[i+1:i+$k], ' ')")}),
              h -> h = ${h15(s"'$phrase'")}))::BIGINT AS n_hits
          FROM d"""
    }.mkString(" UNION ALL "))

  /** Persisted-rescore replay: same scored-doc chain and rescore tail,
    * but the phrase blocks count EXACT consecutive-position matches
    * (the stored positional index holds real positions — no shingle
    * hashes, so no collision behavior to replay; mirror of the
    * text_search_phrase_persisted oracle).
    */
  private def rescorePersistedSql: String =
    rescoreSqlWith(RescorePhrases.map { case (qid, phrase) =>
      val ts = phrase.trim.split("\\s+")
      val m = ts.length
      val cond = ts.zipWithIndex
        .map { case (t, i) => s"tk[p+$i] = ${sqlStr(t)}" }
        .mkString(" AND ")
      s"""SELECT $qid::BIGINT AS query_id, doc_id,
            length(list_filter(
              range(1, greatest(length(tk) - $m, 0) + 2),
              p -> $cond))::BIGINT AS n_hits
          FROM d"""
    }.mkString(" UNION ALL "))

  private def rescoreSqlWith(phBlocks: String): String =
    s"""$bm25DocCtes,
          rs_top AS (SELECT query_id, doc_id, score,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id) AS rank0
                 FROM doc QUALIFY rank0 <= $RescoreWindow),
          rs_ph AS (SELECT query_id, doc_id, n_hits FROM ($phBlocks)
                 WHERE n_hits > 0),
          rs_j AS (SELECT t.query_id, t.doc_id, t.score, t.rank0,
                   COALESCE(p.n_hits, 0)::BIGINT AS n_phrase_hits,
                   (t.score + $RescoreBoost * COALESCE(p.n_hits, 0))
                     ::BIGINT AS new_score
                 FROM rs_top t LEFT JOIN rs_ph p
                   ON p.query_id = t.query_id AND p.doc_id = t.doc_id)
          SELECT query_id, doc_id, score, n_phrase_hits, new_score,
            rank, rank0
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY new_score DESC, doc_id) AS rank FROM rs_j)
          WHERE rank <= $RescoreK"""

  /** boosting replay: the shared scored-doc chain, the negative-term
    * demotion set off the SAME tf frame, the integer halving, the
    * final re-rank window.
    */
  private def boostingSql: String = {
    val negs = BoostNegTerms.map(sqlStr).mkString(", ")
    s"""$bm25DocCtes,
          neg AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ($negs)),
          bq AS (SELECT doc.query_id, doc.doc_id, doc.score,
                   (neg.doc_id IS NOT NULL) AS demoted,
                   (CASE WHEN neg.doc_id IS NOT NULL
                     THEN doc.score // 2 ELSE doc.score END)::BIGINT
                     AS final_score
                 FROM doc LEFT JOIN neg ON doc.doc_id = neg.doc_id)
          SELECT query_id, doc_id, score, demoted, final_score, rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY final_score DESC, doc_id) AS rank FROM bq)
          WHERE rank <= $Bm25K"""
  }

  /** function_score replay: the shared scored-doc chain, the integer
    * field factor + saturation, then the final re-rank window.
    */
  private def functionScoreSql: String =
    s"""$bm25DocCtes,
          fs AS (SELECT doc.query_id, doc.doc_id, doc.score,
                   d2.n_chars AS fv,
                   ((1000000 * d2.n_chars) // (d2.n_chars + $FsPivot))
                     ::BIGINT AS sat,
                   row_number() OVER (PARTITION BY doc.query_id
                     ORDER BY doc.score DESC, doc.doc_id) AS rank0
                 FROM doc JOIN documents d2 USING (doc_id)),
          fin AS (SELECT query_id, doc_id, score, fv, sat,
                   (score * fv + $FsSatBoost * sat)::BIGINT
                     AS final_score, rank0
                 FROM fs)
          SELECT query_id, doc_id, score, fv, sat, final_score, rank,
            rank0
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY final_score DESC, doc_id) AS rank FROM fin)
          WHERE rank <= $Bm25K"""

  /** Field-collapsing replay: the shared scored-doc chain, the group
    * top-hit/size windows, then the per-query group re-rank.
    */
  private def collapseSql: String =
    s"""$bm25DocCtes,
          grp AS (SELECT doc.*, d2.source
                  FROM doc JOIN documents d2 USING (doc_id)),
          gtop AS (SELECT *,
                     row_number() OVER (PARTITION BY query_id, source
                       ORDER BY score DESC, doc_id) AS rn,
                     count(*) OVER (PARTITION BY query_id, source)
                       ::BIGINT AS group_hits
                   FROM grp)
          SELECT query_id, source, doc_id, n_terms_hit, score,
            group_hits, rank
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank
                FROM gtop WHERE rn = 1)
          WHERE rank <= $Bm25K"""

  /** Shared posting-list CTE chain ≡ CorpusOps.bm25Postings plus the
    * document-frequency aggregate: d (tokenized docs) → tf → dfreq.
    * Spliced verbatim into every search-family oracle (BM25 in-memory
    * and persisted, fuzzy, prefix, more-like-this) — one definition,
    * zero drift.
    */
  private def postingsCtes: String =
    s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents
                     WHERE text IS NOT NULL),
          tf AS (SELECT doc_id, t AS term, count(*)::BIGINT AS tf
                 FROM d, unnest(tk) AS u(t) GROUP BY 1, 2),
          dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf
                    GROUP BY term)"""

  /** SQL string literal with quote escaping — every fixture term
    * interpolated into a VALUES list goes through here, so a term
    * containing `'` can never produce invalid oracle SQL.
    */
  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Fuzzy replay: DuckDB brute-forces `levenshtein ≤ 1` over the
    * 31-term vocabulary — the SPEC of what Spark's SymSpell
    * deletion-join must produce (the oracle need not be scale-safe;
    * the engine must). Both engines use plain Levenshtein (no
    * transposition), so the match sets agree exactly.
    */
  private def fuzzySql: String = {
    val values = FuzzyQueries
      .map { case (q, t) => s"($q::BIGINT, ${sqlStr(t)})" }.mkString(", ")
    s"""$postingsCtes,
          q AS (SELECT * FROM (VALUES $values) v(query_id, qt)),
          m AS (SELECT query_id, term FROM q, dfreq
                WHERE levenshtein(qt, term) <= 1),
          doc AS (SELECT query_id, tf.doc_id,
                    count(*)::BIGINT AS n_terms,
                    sum(tf.tf)::BIGINT AS n_hits
                  FROM m JOIN tf ON m.term = tf.term GROUP BY 1, 2)
          SELECT query_id, doc_id, n_terms, n_hits, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY n_hits DESC, doc_id) AS rank
            FROM doc) WHERE rank <= $FuzzyK"""
  }

  /** Classifier replay — also spliced into CorpusQueries'
    * `corpus_quality_calibration`.
    */
  private[queries] def clfSql: String =
    s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents
                   WHERE text IS NOT NULL),
        h AS (SELECT doc_id, ${h15("concat('fh:', t)")} AS hv
              FROM d, unnest(tk) AS u(t)),
        s AS (SELECT doc_id,
                sum((CASE WHEN (hv // $ClfDims) % 2 = 0
                     THEN 1 ELSE -1 END) *
                    (${h15(s"concat('clf:w:', (hv % $ClfDims)::VARCHAR)")}
                     % 1001 - 500))::BIGINT AS dot
              FROM h GROUP BY 1)
        SELECT d.doc_id, COALESCE(dot, 0) AS logit,
               COALESCE(dot, 0) > 0 AS keep
        FROM d LEFT JOIN s USING (doc_id)"""

  /** Suggester replay: brute-force levenshtein over the vocabulary
    * (the oracle can afford the |vocab|×|Q| scan Spark's deletion-join
    * avoids), same (distance, df desc, term) ranking.
    */
  private def suggestSql: String = {
    val values = SuggestQueries
      .map { case (q, t) => s"($q::BIGINT, ${sqlStr(t)})" }.mkString(", ")
    s"""$postingsCtes,
          q AS (SELECT * FROM (VALUES $values) v(query_id, qt)),
          m AS (SELECT query_id, qt, term, df,
                  levenshtein(qt, term)::BIGINT AS distance
                FROM q, dfreq WHERE levenshtein(qt, term) <= 1)
          SELECT query_id, qt AS input, term AS suggestion, distance,
                 df, rank
          FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY distance, df DESC, term) AS rank
            FROM m) WHERE rank <= $SuggestK"""
  }

  /** Wildcard replay: the LIKE probe over the tf frame, tf-sum rank. */
  private def wildcardSql: String = {
    val values = WildcardQueries
      .map { case (q, p) => s"($q::BIGINT, ${sqlStr(p)})" }.mkString(", ")
    s"""$postingsCtes,
          q AS (SELECT * FROM (VALUES $values) v(query_id, pattern)),
          m AS (SELECT query_id, tf.doc_id,
                  count(*)::BIGINT AS n_terms,
                  sum(tf.tf)::BIGINT AS n_hits
                FROM tf JOIN q ON tf.term LIKE q.pattern
                GROUP BY 1, 2)
          SELECT query_id, doc_id, n_terms, n_hits, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY n_hits DESC, doc_id) AS rank
            FROM m) WHERE rank <= $WildK"""
  }

  /** Prefix replay: LIKE over the vocabulary, df-descending top-k. */
  private def prefixSql: String = {
    val values = PrefixQueries
      .map { case (q, p) => s"($q::BIGINT, ${sqlStr(p)})" }.mkString(", ")
    s"""$postingsCtes,
          q AS (SELECT * FROM (VALUES $values) v(query_id, prefix)),
          m AS (SELECT query_id, term, df FROM q, dfreq
                WHERE starts_with(term, prefix))
          SELECT query_id, term, df, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY df DESC, term) AS rank
            FROM m) WHERE rank <= $PrefixK"""
  }

  /** More-like-this replay: seed-term salience floor(scale·tf/df) in
    * the same association order as Spark (multiply THEN divide), top-m
    * seed terms, integer-summed target-doc salience, top-k. The scale
    * constant is the ONE Scala definition round-tripped via toString.
    */
  private def mltSql: String = {
    val values = MltSeeds
      .map { case (q, d) => s"($q::BIGINT, $d::BIGINT)" }.mkString(", ")
    val wExpr = s"floor(($MltScaleSql * tf.tf::DOUBLE)" +
      " / dfreq.df::DOUBLE)::BIGINT"
    s"""$postingsCtes,
          seeds AS (SELECT * FROM (VALUES $values) v(query_id, seed_doc)),
          st AS (SELECT query_id, seed_doc, tf.term, $wExpr AS w
                 FROM seeds JOIN tf ON tf.doc_id = seeds.seed_doc
                      JOIN dfreq ON dfreq.term = tf.term),
          sel AS (SELECT query_id, seed_doc, term FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY w DESC, term) AS trank
                    FROM st) WHERE trank <= $MltM),
          doc AS (SELECT sel.query_id, tf.doc_id,
                    count(*)::BIGINT AS n_terms,
                    sum($wExpr)::BIGINT AS score_fp
                  FROM sel JOIN tf ON tf.term = sel.term
                       JOIN dfreq ON dfreq.term = sel.term
                  WHERE tf.doc_id <> sel.seed_doc GROUP BY 1, 2)
          SELECT query_id, doc_id, n_terms, score_fp, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score_fp DESC, doc_id) AS rank
            FROM doc) WHERE rank <= $MltK"""
  }
}

/** DuckDB SQL fragments mirroring the Spark expressions bit-for-bit. */
private[queries] object Duck {
  /** whitespace tokens of trim(text) ≡ TextOps.tokens */
  val toks = """string_split_regex(trim(text), '\s+')"""
  val nPunct = """length(regexp_replace(text, '[^.,!?;:]', '', 'g'))"""

  /** 60-bit portable hash ≡ PortableHash.h15 */
  def h15(e: String): String =
    s"('0x' || substring(md5($e), 1, 15))::BIGINT"
  def h15(seed: String, e: String): String =
    h15(s"concat('$seed:', $e)")

  /** marker-hit count ≡ TextOps.markerHits */
  def markerHits(toksExpr: String, words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"length(list_filter($toksExpr, t -> list_contains($lst, t)))"
  }

  /** distinct k-shingle list ≡ DedupOps.shingleSet */
  def shingles(k: Int): String =
    s"""list_distinct(list_transform(
        range(0, greatest(length($toks) - $k, 0) + 1),
        i -> array_to_string(($toks)[i+1:i+$k], ' ')))"""

  /** sequential double dot product ≡ DedupOps.dot (0-init fold ≡
    * first-element-init fold for IEEE addition).
    */
  def dot(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
        x -> x[1]::DOUBLE * x[2]::DOUBLE), (p, q) -> p + q)"""
  def cosine(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"

  /** SRP bucket ≡ SimilarityOps.srpBucket */
  def srpBucket(v: String, planes: Int, dim: Int): String = {
    val terms = (0 until planes).map { p =>
      val sign = s"""(CASE WHEN ${h15(s"concat('plane$p:', x[2]::VARCHAR)")}
                     & 1 = 1 THEN 1.0 ELSE -1.0 END)"""
      val d = s"""list_reduce(list_transform(list_zip($v, range(0, $dim)),
                  x -> x[1]::DOUBLE * $sign), (p, q) -> p + q)"""
      s"(CASE WHEN $d > 0 THEN ${1L << p} ELSE 0 END)"
    }
    terms.mkString("(", " + ", ")")
  }
}
