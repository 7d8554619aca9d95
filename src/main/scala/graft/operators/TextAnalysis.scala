package graft.operators

import graft.{Q, Tables}
import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation (SURVEY §2.D): language ID,
  * quality scoring, token counting, winnowing fingerprints. All map-only
  * Column expressions over `documents` — embarrassingly parallel, no
  * shuffle except each query's final presentation sort.
  */
object TextAnalysis {

  /** Tiny per-language stopword sets for the n-gram/stopword heuristic.
    * (Real deployments swap in larger lexicons; the operator shape — token
    * overlap scoring against broadcastable lexicons — is what scales.)
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "los", "las", "y", "es", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "zh" -> Seq("de", "shi", "le", "bu", "zai"))

  private val langOrder = Seq("en", "de", "es", "fr", "zh")

  // shared-dialect PII regexes (char classes + bounded repeats only, so
  // java.util.regex and DuckDB's RE2 agree on every match)
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
  val PhoneRe = "555-[0-9][0-9][0-9][0-9]"
  val Ipv4Re = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"

  val ContamN = 8 // decontamination n-gram size

  private def hits(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isInCollection(stopwords(lang)))).cast("long")

  // NOT fanned out: this module's per-row map work is plain tokenizing
  // and regex screens, measured cheaper than the repartition exchange
  // fanOut would add (the heavy hash chains in Dedup fan out)
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  val defs: Map[String, Q] = Map(
    // Stopword-overlap language ID with deterministic priority tiebreak.
    "doc_lang_id" -> Q(
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("lang").as("label_lang"),
          TextOps.tokens(col("text")).as("toks"))
        val scored = langOrder.foldLeft(base) { (df, l) =>
          df.withColumn(s"hits_$l", hits(col("toks"), l))
        }
        val best = langOrder.map(l => col(s"hits_$l"))
          .reduceLeft((a, b) => greatest(a, b))
        // built inside-out so earlier languages win ties (CASE order)
        val predOrdered = langOrder.reverse.foldLeft(lit("und")) { (acc, l) =>
          when(col(s"hits_$l") === best && best > 0, lit(l)).otherwise(acc)
        }
        scored.withColumn("pred_lang", predOrdered)
          .select(Seq(col("doc_id"), col("label_lang"), col("pred_lang")) ++
            langOrder.map(l => col(s"hits_$l")): _*)
          .orderBy("doc_id")
      }, {
        val hitSql = stopwords.map { case (l, ws) =>
          val set = ws.map(w => s"'$w'").mkString(", ")
          l -> s"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ($set)))"
        }
        val best = langOrder.map(l => s"hits_$l").mkString("greatest(", ", ", ")")
        val pred = langOrder.map(l =>
          s"WHEN hits_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
        s"""WITH scored AS (
           |  SELECT doc_id, lang AS label_lang,
           |    ${langOrder.map(l => s"${hitSql(l)} AS hits_$l").mkString(",\n    ")}
           |  FROM documents)
           |SELECT doc_id, label_lang,
           |  CASE $pred ELSE 'und' END AS pred_lang,
           |  ${langOrder.map(l => s"hits_$l").mkString(", ")}
           |FROM scored ORDER BY doc_id""".stripMargin
      }),

    // Quality scoring: length/stopword/type-token/word-length signals with
    // a fixed linear score. Per-row double arithmetic in an identical
    // operation order both engines.
    "doc_quality_score" -> Q(
      (s, d) => {
        val allStops = stopwords.values.flatten.toSeq.distinct
        docs(s, d)
          .withColumn("toks", TextOps.tokens(col("text")))
          .withColumn("n_tokens", size(col("toks")).cast("long"))
          .withColumn("n_chars_m", length(col("text")))
          .withColumn("stop_ratio",
            size(filter(col("toks"), t => t.isInCollection(allStops)))
              .cast("double") / col("n_tokens"))
          .withColumn("distinct_ratio",
            size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
          .withColumn("mean_word_len",
            (col("n_chars_m") - col("n_tokens") + 1).cast("double") / col("n_tokens"))
          .withColumn("quality_score",
            least(col("n_tokens").cast("double") / 100, lit(1.0)) * 0.4 +
              col("stop_ratio") * 0.2 + col("distinct_ratio") * 0.4)
          .select("doc_id", "n_tokens", "stop_ratio", "distinct_ratio",
            "mean_word_len", "quality_score")
          .orderBy("doc_id")
      }, {
        val allStops = stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
           |    length(text) AS nc
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, len(toks) AS n_tokens,
           |    cast(len(list_filter(toks, x -> x IN ($allStops))) as double)
           |      / len(toks) AS stop_ratio,
           |    cast(len(list_distinct(toks)) as double) / len(toks) AS distinct_ratio,
           |    cast(nc - len(toks) + 1 as double) / len(toks) AS mean_word_len
           |  FROM t)
           |SELECT doc_id, n_tokens, stop_ratio, distinct_ratio, mean_word_len,
           |  least(cast(n_tokens as double) / 100, 1.0) * 0.4
           |    + stop_ratio * 0.2 + distinct_ratio * 0.4 AS quality_score
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    // Token counting: whitespace tokens, a BPE-ish regex lexer count, and a
    // chars-per-token ratio (the usual tokens≈chars/4 sanity signal).
    "doc_token_count" -> Q(
      (s, d) => docs(s, d)
        .withColumn("ws_tokens", size(TextOps.tokens(col("text"))).cast("long"))
        .withColumn("re_tokens",
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .cast("long"))
        .withColumn("n_chars_seen", length(col("text")).cast("long"))
        .withColumn("chars_per_token",
          col("n_chars_seen").cast("double") / col("re_tokens"))
        .select("doc_id", "ws_tokens", "re_tokens", "n_chars_seen",
          "chars_per_token")
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
        |  cast(length(text) as bigint) AS n_chars_seen,
        |  cast(length(text) as double)
        |    / len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |    AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin),

    // The published Gopher quality-filter ruleset (Rae et al. 2021,
    // appendix A1) over the corpus: word count window, mean word length
    // window, symbol-to-word ratio, bullet/ellipsis line fractions,
    // alphabetic-word fraction, and ≥2-of-the-stop-set containment — the
    // standard pre-training document filter, map-only per document (each
    // metric is one Column expression; a 100 TB corpus filters
    // embarrassingly parallel with zero shuffle before the final sort).
    "doc_gopher_rules" -> Q(
      (s, d) => {
        val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
        docs(s, d)
          .withColumn("toks", TextOps.tokens(col("text")))
          .withColumn("lines", split(col("text"), "\n"))
          .withColumn("n_words", size(col("toks")).cast("long"))
          .withColumn("mean_word_len",
            aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
              .cast("double") / col("n_words"))
          // one '…' weighs like one '#': ratio = (hash + ellipsis)/words,
          // computed as (3·hash + ellipsis_len_diff)/(3·words) so both
          // engines stay in exact integer arithmetic until ONE division
          .withColumn("symbol_ratio",
            ((length(col("text")) - length(regexp_replace(col("text"), "#", ""))) * 3 +
              (length(col("text")) - length(regexp_replace(col("text"), "\\.\\.\\.", ""))))
              .cast("double") / (col("n_words") * 3))
          .withColumn("bullet_frac",
            size(filter(col("lines"), l =>
              substring(trim(l), 1, 1).isin("-", "•")))
              .cast("double") / size(col("lines")))
          .withColumn("ellipsis_frac",
            size(filter(col("lines"), l => rtrim(l).endsWith("...")))
              .cast("double") / size(col("lines")))
          .withColumn("alpha_frac",
            size(filter(col("toks"), t => t.rlike("[a-zA-Z]")))
              .cast("double") / col("n_words"))
          .withColumn("stop_hits",
            stops.map(w => array_contains(col("toks"), w).cast("long"))
              .reduce(_ + _))
          .withColumn("passes",
            col("n_words").between(50, 100000) &&
              col("mean_word_len").between(3.0, 10.0) &&
              col("symbol_ratio") < 0.1 &&
              col("bullet_frac") < 0.9 &&
              col("ellipsis_frac") < 0.3 &&
              col("alpha_frac") > 0.8 &&
              col("stop_hits") >= 2)
          .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
            "bullet_frac", "ellipsis_frac", "alpha_frac", "stop_hits",
            "passes")
          .orderBy("doc_id")
      }, {
        val stopSum = Seq("the", "be", "to", "of", "and", "that", "have", "with")
          .map(w => s"cast(list_contains(toks, '$w') as bigint)").mkString(" + ")
        s"""WITH t AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
           |    str_split(text, chr(10)) AS lines, text
           |  FROM documents),
           |m AS (
           |  SELECT doc_id,
           |    cast(len(toks) as bigint) AS n_words,
           |    cast(list_sum(list_transform(toks, x -> length(x))) as double)
           |      / len(toks) AS mean_word_len,
           |    cast((length(text) - length(regexp_replace(text, '#', '', 'g'))) * 3
           |      + (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g')))
           |      as double) / (len(toks) * 3) AS symbol_ratio,
           |    cast(len(list_filter(lines, x ->
           |      substr(trim(x), 1, 1) IN ('-', '•'))) as double)
           |      / len(lines) AS bullet_frac,
           |    cast(len(list_filter(lines, x ->
           |      rtrim(x) LIKE '%...')) as double) / len(lines) AS ellipsis_frac,
           |    cast(len(list_filter(toks, x ->
           |      regexp_matches(x, '[a-zA-Z]'))) as double)
           |      / len(toks) AS alpha_frac,
           |    $stopSum AS stop_hits
           |  FROM t)
           |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
           |  ellipsis_frac, alpha_frac, stop_hits,
           |  (n_words BETWEEN 50 AND 100000) AND
           |    (mean_word_len BETWEEN 3.0 AND 10.0) AND
           |    symbol_ratio < 0.1 AND bullet_frac < 0.9 AND
           |    ellipsis_frac < 0.3 AND alpha_frac > 0.8 AND
           |    stop_hits >= 2 AS passes
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    // Faithful subword tokenization: classic greedy BPE under the fixture
    // merges table, as a codegen'd Expression (graft.functions.BpeTokens)
    // — map-only, one pass per document. Fully hash-oracled: the DuckDB
    // side re-derives BPE independently as rank-ordered sequential
    // replaces (equivalent for rank-valid tables — see Bpe's scaladoc),
    // and the compare covers the whole TOKEN STREAM, not just counts.
    "doc_bpe_tokens" -> Q(
      (s, d) => docs(s, d)
        .select(col("doc_id"), TextOps.bpeTokens(col("text")).as("toks"),
          length(col("text")).cast("long").as("n_chars"),
          size(TextOps.tokens(col("text"))).cast("long").as("ws_tokens"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_bpe_tokens"),
          array_join(col("toks"), " ").as("bpe_stream"),
          col("n_chars"), col("ws_tokens"))
        .orderBy("doc_id"),
      s"""WITH ${graft.functions.Bpe.oracleDocCte}
         |SELECT d.doc_id, b.n_bpe_tokens, b.bpe_stream,
         |  cast(length(d.text) as bigint) AS n_chars,
         |  len(regexp_split_to_array(trim(d.text), '\\s+')) AS ws_tokens
         |FROM documents d JOIN bpe_doc b USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // Tokenizer TRAINING, not just application: distributed BPE merge
    // induction over the corpus (see bpeTrain below). Rows-only — the
    // iterative argmax loop is not expressible as one DuckDB query;
    // PipelineSpec locks the learned table against an independent
    // sequential reference trainer. Trained ONCE per (session, dir) like
    // the other stored artifacts (it is index-building, not a query).
    "doc_bpe_train" -> Q((s, d) => trainedMerges(s, d), None),

    // Corpus statistics: global top-k bigrams by document frequency —
    // explode is map-only; the count groupBy shuffles (ngram) keys and
    // the global top-k runs as TakeOrderedAndProject.
    // Zipf-law fit over the corpus vocabulary: regression slope/intercept
    // of ln(frequency) against ln(rank) for the top-1000 tokens — the
    // standard corpus-health diagnostic (natural language sits near
    // slope −1; templated/synthetic text drifts off it). Scale shape:
    // vocabulary frequency table via hash aggregation, top-k via
    // distributed TakeOrdered (never a global sort), then the rank
    // window and regression run on the 1000-row frame.
    "doc_zipf_slope" -> Q(
      (s, d) => {
        // corpus token counts re-aggregated from the stored tf index
        // (sum of per-doc tf ≡ the count over the exploded stream)
        val freq = Curation.tfIndex(s, d)
          .select(col("term").as("tok"), col("tf"))
          .filter(length(col("tok")) > 0)
          .groupBy("tok").agg(sum("tf").as("n"))
        val top = freq.orderBy(col("n").desc, col("tok")).limit(1000)
        top.withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("n").desc, col("tok"))))
          .agg(count(lit(1)).as("n_types"),
            round(expr("regr_slope(ln(n), ln(rank))"), 6).as("zipf_slope"),
            round(expr("regr_intercept(ln(n), ln(rank))"), 6)
              .as("zipf_intercept"))
      },
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |freq AS (
        |  SELECT tok, count(*) AS n FROM toks
        |  WHERE len(tok) > 0 GROUP BY tok),
        |top AS (SELECT tok, n FROM freq ORDER BY n DESC, tok LIMIT 1000),
        |ranked AS (
        |  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank
        |  FROM top)
        |SELECT count(*) AS n_types,
        |  round(regr_slope(ln(n), ln(rank)), 6) AS zipf_slope,
        |  round(regr_intercept(ln(n), ln(rank)), 6) AS zipf_intercept
        |FROM ranked""".stripMargin),

    "doc_topk_ngrams" -> Q(
      (s, d) => docs(s, d)
        // tokens bound as a column first, then ONE codegen pass builds the
        // joined bigram strings (string-identical to the interpreted
        // transform/slice/array_join chain — R16OptSpec pins it)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(graft.functions.HashExprs.tokenGramStrings(col("toks"), 2))
            .as("bigram"))
        .groupBy("bigram")
        .agg(countDistinct(col("doc_id")).as("doc_freq"),
          count(lit(1)).as("total_freq"))
        .orderBy(col("doc_freq").desc, col("total_freq").desc, col("bigram"))
        .limit(50),
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
        |    for i in generate_series(1, len(w) - 1)]) AS bigram
        |  FROM toks)
        |SELECT bigram, count(DISTINCT doc_id) AS doc_freq,
        |  count(*) AS total_freq
        |FROM grams GROUP BY bigram
        |ORDER BY doc_freq DESC, total_freq DESC, bigram LIMIT 50""".stripMargin),

    // Composite curation pipeline: exact-dedup survivorship + quality gate
    // feeding per-source corpus statistics — the end-to-end shape of a
    // training-data filter stage (each stage is the operator defined above).
    "doc_curation" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("norm_hash")
        Tables.documents(s, d).select("doc_id", "text", "source")
          .withColumn("toks", TextOps.tokens(col("text")))
          .withColumn("n_tokens", size(col("toks")).cast("long"))
          .withColumn("distinct_ratio",
            size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
          .withColumn("norm_hash", sha2(TextOps.normalized(col("text")), 256))
          .withColumn("keep",
            col("doc_id") === min("doc_id").over(w) && col("distinct_ratio") >= 0.3)
          .filter(col("keep"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            round(avg(col("distinct_ratio")), 6).as("avg_distinct_ratio"))
          .orderBy("source")
      },
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    cast(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) as double)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS distinct_ratio,
        |    sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_hash
        |  FROM documents),
        |kept AS (
        |  SELECT * FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY norm_hash) AS canon
        |    FROM scored)
        |  WHERE doc_id = canon AND distinct_ratio >= 0.3)
        |SELECT source, count(*) AS n_docs,
        |  cast(sum(n_tokens) as bigint) AS total_tokens,
        |  round(avg(distinct_ratio), 6) AS avg_distinct_ratio
        |FROM kept GROUP BY source ORDER BY source""".stripMargin),

    // PII scrubbing — the redaction stage of a training-data pipeline.
    // The synthetic corpus carries no PII, so deterministic email/phone/IP
    // tokens are injected from doc_id first (oracle rebuilds identical
    // bytes), then redacted with shared-dialect regexes. The sha2 of the
    // redacted text makes the oracle verify the redaction BYTE-FOR-BYTE,
    // not just the counts. Map-only at any scale.
    "doc_pii_redact" -> Q(
      (s, d) => {
        val enriched = docs(s, d).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com now")))
              .when(col("doc_id") % 3 === 1,
                concat(lit(" call 555-"),
                  lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
                  lit(" today")))
              .otherwise(concat(lit(" host 10.0."),
                (col("doc_id") % 256).cast("string"),
                lit("."), (col("doc_id") * 7 % 256).cast("string"),
                lit(" up")))).as("t"))
        val redacted = enriched
          .withColumn("n_emails", regexp_count(col("t"), lit(EmailRe)))
          .withColumn("n_phones", regexp_count(col("t"), lit(PhoneRe)))
          .withColumn("n_ips", regexp_count(col("t"), lit(Ipv4Re)))
          .withColumn("clean",
            regexp_replace(regexp_replace(regexp_replace(col("t"),
              EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]"), Ipv4Re, "[IP]"))
        redacted.select(col("doc_id"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          col("n_ips").cast("long").as("n_ips"),
          length(col("clean")).cast("long").as("clean_len"),
          sha2(col("clean"), 256).as("clean_hash"))
          .orderBy("doc_id")
      },
      s"""WITH enr AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0
         |         THEN ' contact user' || cast(doc_id as varchar) || '@example.com now'
         |         WHEN doc_id % 3 = 1
         |         THEN ' call 555-' || lpad(cast(doc_id % 10000 as varchar), 4, '0') || ' today'
         |         ELSE ' host 10.0.' || cast(doc_id % 256 as varchar) || '.'
         |              || cast(doc_id * 7 % 256 as varchar) || ' up' END AS t
         |  FROM documents),
         |red AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(t, '$EmailRe')) AS n_emails,
         |    len(regexp_extract_all(t, '$PhoneRe')) AS n_phones,
         |    len(regexp_extract_all(t, '$Ipv4Re')) AS n_ips,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g'),
         |      '$Ipv4Re', '[IP]', 'g') AS clean
         |  FROM enr)
         |SELECT doc_id, cast(n_emails as bigint) AS n_emails,
         |  cast(n_phones as bigint) AS n_phones, cast(n_ips as bigint) AS n_ips,
         |  cast(length(clean) as bigint) AS clean_len,
         |  sha256(clean) AS clean_hash
         |FROM red ORDER BY doc_id""".stripMargin),

    // Benchmark decontamination — flag documents sharing any 8-gram with a
    // benchmark set (here: every 100th doc stands in for an eval set). The
    // benchmark gram table is tiny → broadcast; corpus grams stream
    // map-only into the semi-join, so cost is one corpus pass at any scale.
    "doc_contamination" -> Q(
      (s, d) => {
        val grams = docs(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            explode(graft.functions.HashExprs.tokenGramStrings(col("toks"),
              ContamN)).as("g"))
          .distinct()
        val bench = grams.filter(col("doc_id") % 100 === 0)
          .select(col("g")).distinct()
        val hits = grams.join(broadcast(bench), "g")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        docs(s, d).select(col("doc_id"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (col("doc_id") % 100 === 0).as("is_benchmark"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
          .orderBy("doc_id")
      },
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest([array_to_string(w[i:i+${ContamN - 1}], ' ')
         |      for i in generate_series(1, len(w) - ${ContamN - 1})]) AS g
         |    FROM toks)),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 100 = 0),
         |hits AS (
         |  SELECT doc_id, count(*) AS n_hits
         |  FROM grams JOIN bench USING (g) GROUP BY doc_id)
         |SELECT d.doc_id, d.doc_id % 100 = 0 AS is_benchmark,
         |  coalesce(h.n_hits, 0) AS n_hits,
         |  coalesce(h.n_hits, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Within-document repetition signals (the Gopher-style quality rules):
    // duplicate-token and duplicate-n-gram fractions flag boilerplate and
    // degenerate generations. Pure map work — token and n-gram arrays are
    // bound once per row, ratios are int/int divisions (identical IEEE ops
    // both engines). No shuffle except the presentation sort.
    "doc_repetition" -> Q(
      (s, d) => docs(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .withColumn("bi", graft.functions.HashExprs.tokenGramStrings(col("toks"), 2))
        .withColumn("tri", graft.functions.HashExprs.tokenGramStrings(col("toks"), 3))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          (lit(1.0) - size(array_distinct(col("toks"))).cast("double")
            / size(col("toks"))).as("dup_token_frac"),
          when(size(col("bi")) > 0,
            lit(1.0) - size(array_distinct(col("bi"))).cast("double")
              / size(col("bi"))).as("dup_bigram_frac"),
          when(size(col("tri")) > 0,
            lit(1.0) - size(array_distinct(col("tri"))).cast("double")
              / size(col("tri"))).as("dup_trigram_frac"))
        .withColumn("is_repetitive",
          coalesce(col("dup_trigram_frac"), lit(0.0)) > 0.2 ||
            col("dup_token_frac") > 0.7)
        .orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w,
        |    [w[i] || ' ' || w[i+1] for i in generate_series(1, len(w) - 1)] AS bi,
        |    [array_to_string(w[i:i+2], ' ')
        |      for i in generate_series(1, len(w) - 2)] AS tri
        |  FROM toks),
        |m AS (
        |  SELECT doc_id, cast(len(w) as bigint) AS n_tokens,
        |    1.0 - cast(len(list_distinct(w)) as double) / len(w) AS dup_token_frac,
        |    CASE WHEN len(bi) > 0 THEN
        |      1.0 - cast(len(list_distinct(bi)) as double) / len(bi)
        |    END AS dup_bigram_frac,
        |    CASE WHEN len(tri) > 0 THEN
        |      1.0 - cast(len(list_distinct(tri)) as double) / len(tri)
        |    END AS dup_trigram_frac
        |  FROM g)
        |SELECT doc_id, n_tokens, dup_token_frac, dup_bigram_frac,
        |  dup_trigram_frac,
        |  coalesce(dup_trigram_frac, 0.0) > 0.2 OR dup_token_frac > 0.7
        |    AS is_repetitive
        |FROM m ORDER BY doc_id""".stripMargin),

    // Winnowing fingerprints (k=8 char-grams, window 4), exploded to the
    // (doc, fingerprint) grain — the unit a cross-corpus plagiarism /
    // near-dup index is built on. Rows-only: DuckDB lacks xxhash64.
    "doc_fingerprint" -> Q(
      // the stored full winnowing index (Dedup.allFingerprints — built
      // once per session/dir, forced by build:fingerprints) IS this
      // query's grain; re-deriving the char-gram hash + winnow chain per
      // execution repeated the corpus's dominant map cost. Same rows,
      // same schema.
      (s, d) => Dedup.allFingerprints(s, d)
        .select(col("doc_id"), col("fp").as("fingerprint"))
        .orderBy("doc_id", "fingerprint"),
      None),

    // Token-distribution ENTROPY — the repetition/gibberish quality
    // signal Gopher-style filters pair with the rule set: low entropy =
    // few distinct tokens dominating (boilerplate, keyword stuffing),
    // high = diverse prose. Shape at scale: explode → two keyed
    // aggregations, all map-side combinable; the per-doc token-count
    // window partitions by doc_id (bounded by document length, never a
    // global sort).
    "doc_token_entropy" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // (doc, token) counts from the stored tf index (same rows: lang
        // is a doc attribute, so dropping it leaves the grain intact)
        val counts = Curation.tfIndex(s, d)
          .select(col("doc_id"), col("term").as("tok"), col("tf").as("c"))
        val n = sum(col("c")).over(Window.partitionBy("doc_id"))
        counts
          .withColumn("n", n)
          .groupBy("doc_id")
          .agg(max(col("n")).cast("long").as("n_tokens"),
            round(-sum((col("c") / col("n")) *
              log(2.0, col("c") / col("n"))), 6).as("token_entropy"))
          .orderBy("doc_id")
      },
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |counts AS (
        |  SELECT doc_id, tok, count(*)::DOUBLE AS c
        |  FROM toks GROUP BY 1, 2),
        |wn AS (
        |  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n
        |  FROM counts)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |  round(-sum((c / n) * log2(c / n)), 6) AS token_entropy
        |FROM wn GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  private val bpeMergeCache = graft.Caches.dfCache()

  /** The session's trained merges table for a source dir (40 merges,
    * min pair freq 2 — the fixture-sized configuration).
    */
  private def trainedMerges(s: SparkSession, d: String): DataFrame =
    bpeMergeCache.getOrElseUpdate(s, d) {
      graft.Caches.pinDim(
        bpeTrain(s, d, maxMerges = 40, minFreq = 2L), col("rank"))
    }

  /** One-time trainer entry for the bench's `build:` accounting. */
  def buildBpeMerges(s: SparkSession, d: String): Long =
    trainedMerges(s, d).count()

  /** Distributed BPE vocabulary INDUCTION (Sennrich et al. 2016): learn the
    * merges table from the corpus — the other half of the tokenizer story
    * (`doc_bpe_tokens` applies a fixed table; this trains one).
    *
    * Shape at scale: the corpus is scanned ONCE, into a distinct-WORD
    * frequency table — every subsequent pair count and merge application
    * runs over that vocabulary-sized table (10⁷–10⁸ rows at 100 TB), never
    * the corpus. Each of the ≤ `maxMerges` rounds is one pair-explode +
    * partial-agg sum (shuffle keyed on symbol pairs) collecting exactly
    * ONE argmax row to the driver, then one map-only fold rewriting the
    * symbol arrays; the working table re-persists per round and
    * periodically `localCheckpoint`s so lineage stays shallow. Driver
    * state is the merges list itself — bounded by `maxMerges`.
    *
    * Determinism: the argmax tie-breaks on (freq desc, left, right), so
    * the learned table is reproducible for any partitioning. Merge
    * application is the classic greedy left-to-right pass: in `aaa` the
    * merge (a,a) produces `[aa, a]`, and the freshly created symbol never
    * re-merges within the same round.
    *
    * Output: one row per learned merge — (rank, left, right, merged,
    * pair_freq at learn time).
    */
  /** Vocab-size gate for the driver-side merge learner: below this many
    * distinct multi-symbol words (≈ ≤100 MB of driver state) the rounds
    * run as a plain Scala loop over the collected word-frequency table —
    * the shape every production BPE trainer uses (the corpus-sized work,
    * word counting, stays distributed; the merge loop is vocabulary-sized
    * by construction). Above it, the distributed round loop runs instead,
    * so an open 100 TB vocabulary never lands on the driver (guide §5).
    */
  val BpeDriverVocabCap = 1000000L

  def bpeTrain(s: SparkSession, d: String, maxMerges: Int,
      minFreq: Long, driverVocabCap: Long = BpeDriverVocabCap): DataFrame = {
    val empty = array().cast("array<string>")
    // a word reduced to ONE symbol can never form another pair — drop it
    // from the working table for good (the table only feeds pair counts),
    // shrinking every subsequent round's scan; single-char words fall out
    // before round 1. Pair counts (and so the learned merges) are
    // untouched: length-1 symbol lists contribute zero pairs.
    def viable(df: DataFrame): DataFrame = df.filter(size(col("syms")) >= 2)
    var words = viable(docs(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
      .select(filter(split(col("word"), ""), x => x =!= "").as("syms"),
        col("freq")))
      .persist()
    val vocab = words.count()
    if (vocab <= driverVocabCap) {
      // driver fast path: one distributed pass built the (syms, freq)
      // table; the ≤maxMerges merge rounds are pure in-memory loops —
      // identical argmax tie-break ((freq desc, left, right) in UTF8
      // BINARY order, matching Spark's string sort) and identical greedy
      // left-to-right application (a fresh symbol never re-merges within
      // its own round), so the learned table is byte-equal to the
      // distributed loop's
      val collected = words.collect().map { r =>
        (r.getSeq[String](0).toArray, r.getLong(1))
      }
      words.unpersist()
      val learned = bpeTrainLocal(collected, maxMerges, minFreq)
      import s.implicits._
      return learned.toSeq.toDF("rank", "left", "right", "merged", "pair_freq")
        .orderBy("rank")
    }
    // the previous round's table: unpersisted only after the CURRENT one
    // materializes (the argmax job below reads it through the cache) — this
    // folds the old per-round `count()` materialization job into the argmax
    // job, halving the loop's job count (guide §1.2: fewer passes)
    var prev: DataFrame = null
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 0
    var done = false
    try {
      while (rank < maxMerges && !done) {
        val pairs = words
          .select(col("freq"), explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .select(col("p.l").as("l"), col("p.r").as("r"), col("freq"))
          .groupBy("l", "r").agg(sum("freq").as("pf"))
        // ONE job per round: TakeOrdered argmax, which also materializes
        // the lazily-persisted current words table
        val best = pairs.orderBy(col("pf").desc, col("l"), col("r"))
          .limit(1).collect()
        if (prev != null) { prev.unpersist(); prev = null }
        if (best.isEmpty || best(0).getAs[Long]("pf") < minFreq) done = true
        else {
          val l = best(0).getString(0)
          val r = best(0).getString(1)
          learned += ((rank, l, r, l + r, best(0).getAs[Long]("pf")))
          val applied = viable(words.withColumn("syms",
            aggregate(col("syms"), empty, (acc, x) =>
              when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(l) && x === lit(r),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
                .otherwise(concat(acc, array(x))))))
          // truncate lineage every few rounds (localCheckpoint is eager, so
          // it materializes NOW — reading words through the cache — and the
          // parent can be freed immediately); otherwise persist lazily and
          // let the next argmax materialize it
          if ((rank + 1) % 8 == 0) {
            val next = applied.localCheckpoint(true)
            words.unpersist()
            words = next
          } else {
            prev = words
            words = applied.persist()
          }
          rank += 1
        }
      }
    } finally {
      words.unpersist()
      if (prev != null) prev.unpersist()
      ()
    }
    import s.implicits._
    learned.toSeq.toDF("rank", "left", "right", "merged", "pair_freq")
      .orderBy("rank")
  }

  /** The merge-learning rounds as a plain Scala loop over an in-memory
    * word-frequency table — semantics identical to the distributed loop:
    * argmax by (pair freq desc, left, right) with strings compared in
    * UTF-8 BINARY order (Spark's sort order), greedy left-to-right merge
    * application in which the freshly created symbol never re-merges
    * within the same round, and words reduced below two symbols dropped.
    */
  private[graft] def bpeTrainLocal(words0: Array[(Array[String], Long)],
      maxMerges: Int, minFreq: Long)
      : Seq[(Int, String, String, String, Long)] = {
    import org.apache.spark.unsafe.types.UTF8String
    def u8lt(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    var words = words0.filter(_._1.length >= 2)
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < maxMerges && !done) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      val best = pc.foldLeft(Option.empty[((String, String), Long)]) {
        case (acc, cand @ ((cl, cr), cf)) => acc match {
          case Some(((bl, br), bf)) =>
            if (cf > bf || (cf == bf && (u8lt(cl, bl) ||
                (cl == bl && u8lt(cr, br))))) Some(cand) else acc
          case None => Some(cand)
        }
      }
      best match {
        case Some(((l, r), f)) if f >= minFreq =>
          learned += ((rank, l, r, l + r, f))
          words = words.flatMap { case (syms, wf) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            syms.foreach { x =>
              if (acc.nonEmpty && acc.last == l && x == r)
                acc(acc.length - 1) = l + r
              else acc += x
            }
            if (acc.length >= 2) Some((acc.toArray, wf)) else None
          }
          rank += 1
        case _ => done = true
      }
    }
    learned.toSeq
  }
}
