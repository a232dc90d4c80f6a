package graft.queries

import graft.functions.TextAnalysis
import graft.operators.{AnnSpec, BpeTokenizer, Dedup, Graph, Mixture, Multimodal, Similarity, TextIndex}
import graft.operators.AnnSpec.{Flat, Ivf, Pq, PqResidual, Raw, TrainedFp}
import graft.operators.CacheScope.persist
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** North-star training-data-pipeline operators (SURVEY.md §2.3) as
  * oracle-checked queries: text analysis, dedup (exact / n-gram Jaccard
  * / MinHash-LSH / SimHash), embedding similarity search, multimodal
  * binary plumbing.
  *
  * The documents/embeddings testdata has no natural duplicates, so
  * dedup queries synthesize them deterministically (shifted-id exact
  * copies; 80%-prefix mutations; exactly-scaled embeddings) with
  * transformations expressible identically in both engines.
  */
object NorthStar {

  /** t13's per-language keep rates (zh deliberately absent => dropped);
    * shared by the query and its oracle so they can never drift.
    */
  private[queries] val T13Rates: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.1, "fr" -> 1.0)

  // ---------- shared SQL fragments (DuckDB side) ----------
  private val P = "1000000007"
  private def toksSql(t: String) = s"string_split_regex(trim($t), '\\s+')"
  private def rollSql(e: String) =
    s"list_reduce(list_transform(string_split($e, ''), c -> cast(ascii(c) as bigint)), " +
      s"(a,b) -> (a*31+b) % $P)"
  private val stopList = Seq("the", "a", "of", "and", "to", "in")
  private val stopSql = stopList.map(w => s"'$w'").mkString(", ")
  private def stopHitsSql(toks: String) =
    s"len(list_filter($toks, t -> t in ($stopSql)))"

  /** t16's PII regexes — RE2 subset (no lookaround/backrefs) so Spark's
    * java.util.regex and DuckDB's RE2 match identically. IP is redacted
    * before phone so the dotted quad can't be half-eaten.
    */
  private[queries] val PiiEmailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val PiiPhoneRe = "\\d{3}-\\d{4}"
  private[queries] val PiiIpRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** `text` run by `spark.sql` over `views` (name -> frame), registered
    * as temp views on a private clone of `s`: the caller's catalog gains
    * no view and concurrent rows cannot replace each other's. The result
    * is a frame of `s`.
    */
  private def sqlOver(s: SparkSession, views: (String, DataFrame)*)(text: String)
      : DataFrame = {
    val clone = Bridge.cloneSession(s)
    views.foreach { case (name, df) =>
      Bridge.ofRows(clone, Bridge.analyzed(df)).createOrReplaceTempView(name)
    }
    Bridge.ofRows(s, Bridge.analyzed(clone.sql(text)))
  }

  /** Corpus with exact duplicates: every doc again under id+100000. */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = s.read.parquet(s"$dir/documents.parquet")
    docs.select($"doc_id", $"text")
      .unionByName(docs.select(($"doc_id" + 100000).as("doc_id"), $"text"))
  }
  private val dupCorpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 100000, text FROM documents""".stripMargin

  /** Corpus with near-duplicates: each doc again under id+100000 with
    * only its first 80% of tokens.
    */
  private def mutCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val toks = TextAnalysis.tokens($"text")
    docs.select($"doc_id", $"text").unionByName(
      docs.select(($"doc_id" + 100000).as("doc_id"),
        array_join(
          slice(toks, lit(1), greatest(floor(size(toks) * 0.8).cast("int"), lit(1))),
          " ").as("text")))
  }
  /** Corpus with planted EXCERPTS: each doc again under id+100000 as
    * its middle-half token slice — near-total containment in the
    * original, but Jaccard only ~0.5 (the asymmetry d17 exists for).
    */
  private def subCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    docs.selectExpr("doc_id", "text").unionByName(
      docs.selectExpr("doc_id + 100000 AS doc_id",
        """array_join(slice(split(trim(text), '\\s+'),
          |  (size(split(trim(text), '\\s+')) div 4) + 1,
          |  greatest(size(split(trim(text), '\\s+')) div 2, 1)), ' ')
          |  AS text""".stripMargin))
  }
  private val subCorpusSql = {
    val tk = toksSql("text")
    s"""SELECT doc_id, text FROM documents
       |UNION ALL SELECT doc_id + 100000,
       |  array_to_string(tk[(len(tk)//4 + 1) :
       |    (len(tk)//4) + greatest(len(tk)//2, 1)], ' ')
       |FROM (SELECT doc_id, $tk AS tk FROM documents)""".stripMargin
  }

  private val mutCorpusSql = {
    val tk = toksSql("text")
    s"""SELECT doc_id, text FROM documents
       |UNION ALL SELECT doc_id + 100000,
       |  array_to_string(($tk)[1:greatest(cast(floor(len($tk) * 0.8) as int), 1)], ' ')
       |FROM documents""".stripMargin
  }

  /** Shared shingle CTE chain (3-gram, distinct rolling hashes). */
  private def shingleSql(corpus: String) =
    s"""u AS ($corpus),
       |t AS (SELECT doc_id AS id, ${toksSql("text")} AS toks FROM u),
       |g AS (SELECT id, unnest(CASE WHEN len(toks) >= 3
       |  THEN list_distinct(list_transform(range(1, len(toks) - 1),
       |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |  ELSE [array_to_string(toks, ' ')] END) AS shingle FROM t),
       |sh AS (SELECT DISTINCT id, ${rollSql("shingle")} AS sh FROM g)""".stripMargin

  private val mhSql = // 16 minhashes per id from the sh CTE
    s"""mh AS (SELECT id, list_transform(range(0, 16),
       |  i -> list_aggregate(list_transform(shs, s -> ((i*2+1)*s + i*i + 7) % $P), 'min')) AS mh
       |  FROM (SELECT id, list(sh) AS shs FROM sh GROUP BY id))""".stripMargin

  /** Shared t32/t47 oracle prefix: the FULL BPE training replay —
    * deterministic sample, word-freq table, 60 recursive merge
    * rounds (DuckDB working-table semantics = the trainer
    * iteration), rank extraction, and the per-word greedy
    * segmentation replay — ending in CTEs `doc(doc_id, t)`,
    * `docw`, `fin`, and `agg(doc_id, n_words, n_sym, n_bpe)`.
    * Readouts differ: t32 reports per doc, t47 aggregates per
    * source.
    */
  private val bpeReplaySql: String =
    """WITH RECURSIVE
          |doc AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
          |samp AS (SELECT t FROM (
          |    SELECT t, doc_id,
          |      (3 * (doc_id % 1000000007) + 8) % 1000000007 AS h FROM doc)
          |  ORDER BY h, doc_id LIMIT 2048),
          |wf AS (SELECT w AS word, count(*) AS freq FROM (
          |    SELECT unnest(string_split_regex(trim(t), '\s+')) AS w FROM samp)
          |  WHERE w <> '' GROUP BY w ORDER BY freq DESC, word LIMIT 4096),
          |train AS (
          |  SELECT word, freq,
          |    chr(1) || array_to_string(string_split(word, ''),
          |      chr(1) || chr(1)) || chr(1) AS state,
          |    0 AS step
          |  FROM wf
          |  UNION ALL
          |  SELECT w.word, w.freq,
          |    replace(w.state, chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1),
          |            chr(1) || b.l || b.r || chr(1)),
          |    w.step + 1
          |  FROM train w CROSS JOIN (
          |    SELECT l, r FROM (
          |      SELECT pr[1] AS l, pr[2] AS r, sum(freq) AS cnt FROM (
          |        SELECT freq, unnest(list_transform(range(1, len(syms)),
          |          i -> [syms[i], syms[i + 1]])) AS pr
          |        FROM (SELECT freq,
          |            string_split(trim(state, chr(1)), chr(1) || chr(1)) AS syms
          |          FROM train)
          |      ) GROUP BY 1, 2
          |    ) WHERE cnt >= 2 ORDER BY cnt DESC, l, r LIMIT 1
          |  ) b
          |  WHERE w.step < 60
          |),
          |steps AS (SELECT freq,
          |    string_split(trim(state, chr(1)), chr(1) || chr(1)) AS syms, step
          |  FROM train),
          |ranks AS (
          |  SELECT l, r, step AS rank FROM (
          |    SELECT step, l, r, cnt,
          |      row_number() OVER (PARTITION BY step ORDER BY cnt DESC, l, r) AS rn
          |    FROM (
          |      SELECT step, pr[1] AS l, pr[2] AS r, sum(freq) AS cnt
          |      FROM (SELECT step, freq, unnest(list_transform(range(1, len(syms)),
          |              i -> [syms[i], syms[i + 1]])) AS pr FROM steps)
          |      GROUP BY 1, 2, 3
          |    ) WHERE cnt >= 2
          |  ) WHERE rn = 1 AND step < (SELECT max(step) FROM steps)
          |),
          |rmap AS (SELECT
          |  map_from_entries(list({'k': l || chr(1) || r, 'v': rank})) AS m
          |  FROM ranks),
          |docw AS (SELECT doc_id, w AS word, count(*) AS n FROM (
          |    SELECT doc_id, unnest(string_split_regex(trim(t), '\s+')) AS w
          |    FROM doc)
          |  WHERE w <> '' GROUP BY doc_id, w),
          |seg AS (
          |  SELECT word, string_split(word, '') AS syms, 0 AS it
          |  FROM (SELECT DISTINCT word FROM docw)
          |  UNION ALL
          |  SELECT word,
          |    list_concat(list_concat(syms[1:best_at - 1],
          |      [syms[best_at] || syms[best_at + 1]]), syms[best_at + 2:]),
          |    it + 1
          |  FROM (
          |    SELECT word, syms, it, list_min(rks) AS best_rank,
          |      list_position(rks, list_min(rks)) AS best_at
          |    FROM (
          |      SELECT word, syms, it, list_transform(range(1, len(syms)),
          |        i -> coalesce(m[syms[i] || chr(1) || syms[i + 1]][1],
          |               2147483647)) AS rks
          |      FROM seg, rmap WHERE len(syms) > 1)
          |  ) WHERE best_rank < 2147483647
          |),
          |fin AS (SELECT word, arg_max(syms, it) AS syms FROM seg GROUP BY word),
          |agg AS (
          |  SELECT d.doc_id, cast(sum(d.n) AS bigint) AS n_words,
          |    cast(sum(d.n * len(d.word)) AS bigint) AS n_sym,
          |    cast(sum(d.n * len(f.syms)) AS bigint) AS n_bpe
          |  FROM docw d JOIN fin f ON f.word = d.word GROUP BY d.doc_id)
      |""".stripMargin

  // ---------- queries ----------

  /** The end-to-end curation pipeline behind t17: Gopher-rule quality
    * filter (t14's shared verdict) -> exact dedup to the min-id
    * canonical (d01's shape) -> deterministic hash split (t08's). The
    * filtered corpus feeds BOTH dedup branches (canonical aggregate +
    * semi join), so it is persisted — one quality-filter pass instead
    * of two; `CacheScope.releaseSession` reclaims it after the
    * consuming action (in-situ zero-residual contract: CacheScopeSpec).
    * The whole pipeline shuffles twice (dedup group, dedup semi join)
    * regardless of corpus size.
    */
  def curationPipeline(corpus: DataFrame): DataFrame = {
    val kept = persist(corpus
      .filter(TextAnalysis.qualityKeep(col("text"), stopList))
      .withColumn("fp", md5(col("text"))))
    val canon = kept.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    kept.join(canon, Seq("fp", "doc_id"), "left_semi")
      .withColumn("split", Mixture.splitColumn(col("doc_id")))
      .select(col("doc_id"), col("lang"), col("split"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
  }

  /** s40's body, parameterized so the scale ladder can run it beyond
    * the oracle sf: `nlist`/`superList` scale with the corpus (the
    * production convention), and `qMod` hash-samples the TRUTH/recall
    * query side (queries with (3·(id%P)+8)%P ≡ 0 mod qMod — the
    * trainers' deterministic sample discipline) so the brute-force
    * truth arm stays O(n·|sample|) instead of O(n²). qMod = 1 is the
    * registered full-corpus oracle row, bit-identical to rounds ≤ 13.
    * Candidate counts always cover the FULL corpus — they price the
    * build; recall is over the sampled queries.
    */
  private[graft] def routingFrontierQuery(s: SparkSession, dir: String,
      nlist: Int, superList: Int, qMod: Long): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def run(): DataFrame = { // def so the empty guard can return
      val P = 1000000007L
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val trained = Similarity.ivfTrainCentroidsFp(emb, nlist = nlist)
      if (trained.isEmpty) // empty corpus: nothing to route or evaluate
        return Seq.empty[(String, Long, Long, Long, Long, Double, Double)]
          .toDF("arm", "n_queries", "k", "n_candidates", "n_hits",
            "recall", "cand_per_query")
      val cent = broadcast(trained.toSeq.map { case (c, v) => (c, v.toSeq) }
        .toDF("c_id", "c_vec"))
      val (superRows, centRows) =
        Similarity.kCenterSuperTable(trained, superList)
      val supers = broadcast(superRows.toDF("s_id", "s_vec"))
      val centT = broadcast(centRows.toDF("s_id", "c_id", "c_vec"))
      val rows = persist(emb.select($"vec_id".cast("long").as("id"),
        $"embedding".as("v")))
      val nAll = rows.count()
      // qMod = 0 derives the ~500-truth-query budget from the corpus:
      // the O(n·nq) brute-force truth arm stays constant-cost as the
      // corpus grows (and degenerates to FULL truth at n <= 500 — the
      // correctness sf). Both routing arms still cover every vector —
      // the measured cost; only the eval side samples.
      val qm = if (qMod == 0L) math.max(1L, nAll / 500L) else qMod
      val qSide = emb.filter(
        (lit(3L) * ($"vec_id".cast("long") % P) + 8L) % P % qm === 0L)
      val truth = persist(Similarity.bruteForceTopK(emb, qSide, k = 5)
        .select($"q_id", $"n_id"))
      val nq = qSide.count()
      val wid = Window.partitionBy($"id").orderBy($"cos_c".desc, $"c_id".asc)
      val flatRank = persist(rows.crossJoin(cent)
        .withColumn("cos_c", Similarity.cosine($"v", $"c_vec"))
        .withColumn("rn", row_number().over(wid)).filter($"rn" <= 4)
        .select($"id", $"c_id", $"rn"))
      val ws = Window.partitionBy($"id").orderBy($"cos_s".desc, $"s_id".asc)
      val rsup = rows.crossJoin(supers)
        .withColumn("cos_s", Similarity.cosine($"v", $"s_vec"))
        .withColumn("srn", row_number().over(ws)).filter($"srn" <= 3)
        .select($"id", $"s_id", $"v")
      val twoRank = persist(rsup.join(centT, Seq("s_id"))
        .withColumn("cos_c", Similarity.cosine($"v", $"c_vec"))
        .withColumn("rn", row_number().over(wid)).filter($"rn" <= 4)
        .select($"id", $"c_id", $"rn"))
      def armRow(name: String, rank: DataFrame,
          graph: DataFrame): DataFrame = {
        val asg = rank.filter($"rn" === 1).select($"id".as("n_id"), $"c_id")
        val probes = rank.select($"id".as("q_id"), $"c_id")
        val nCand = probes.join(asg, Seq("c_id"))
          .filter($"n_id" =!= $"q_id")
          .agg(count(lit(1)).as("n_candidates"))
        val nHits = graph.select($"q_id", $"n_id")
          .join(truth, Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("n_hits"))
        nCand.crossJoin(nHits).select(
          lit(name).as("arm"), lit(nq).as("n_queries"), lit(5L).as("k"),
          $"n_candidates", $"n_hits",
          round($"n_hits".cast("double") / (nq * 5), 6).as("recall"),
          round($"n_candidates".cast("double") / nAll, 6).as("cand_per_query"))
      }
      // both graph arms reuse the quantizer trained above (training is
      // deterministic at equal args, so injecting it is value-identical
      // — previously each build re-ran the sample collect + driver
      // Lloyd, 3 trainings per row in total)
      armRow("flat", flatRank,
          Similarity.ivfKnnGraphFromTrained(emb, trained, k = 5,
            nprobe = 4, idCol = "vec_id", vecCol = "embedding"))
        .unionByName(armRow("two_level", twoRank,
          Similarity.ivfKnnGraph2LFromTrained(emb, trained, k = 5,
            nprobe = 4, superList = superList, superProbe = 3,
            idCol = "vec_id", vecCol = "embedding")))
        .orderBy("arm")
    }
    run()
  }

  /** s41's body, parameterized the same way: the PQ graph builds over
    * the FULL corpus (the measured cost); `qMod` hash-samples the
    * brute-force truth side so the row ladders without the O(n²)
    * truth arm. qMod = 0 (the registered config) derives the
    * ~500-truth-query budget from the corpus count — full truth at
    * the n <= 500 correctness sf, constant eval cost at every rung.
    */
  private[graft] def pqGraphRecallQuery(s: SparkSession, dir: String,
      qMod: Long): DataFrame = {
    import s.implicits._
    val P = 1000000007L
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val qm = if (qMod == 0L) math.max(1L, emb.count() / 500L) else qMod
    val qSide = emb.filter(
      (lit(3L) * ($"vec_id".cast("long") % P) + 8L) % P % qm === 0L)
    val truth = persist(Similarity.bruteForceTopK(emb, qSide, k = 5)
      .select($"q_id", $"n_id"))
    val nq = qSide.count()
    // ONE training + routing + encode + ADC-candidate pass shared by
    // both budget arms (nothing upstream of the bounded top-C depends
    // on cBudget); each arm pays only its top-C + rerank tail —
    // previously each arm re-ran the full PQ-graph pipeline
    val prep = Similarity.pqKnnGraphScaledPrep(emb, targetList = 64,
      nprobe = 4, superProbe = 3, m = 8, ncode = 32)
    def arm(cBudget: Int): DataFrame =
      prep.map(Similarity.pqGraphRankFromPrep(_, k = 5, cBudget = cBudget))
        .getOrElse(Similarity.pqKnnGraphScaledFp(emb, k = 5,
          targetList = 64, nprobe = 4, superProbe = 3, m = 8, ncode = 32,
          cBudget = cBudget)) // empty corpus: same empty frame either way
        .select($"q_id", $"n_id")
        .join(truth, Seq("q_id", "n_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(s"cbudget_$cBudget").as("arm"), lit(nq).as("n_queries"),
          lit(5L).as("k"), lit(cBudget.toLong).as("c_budget"), $"n_hits",
          round($"n_hits".cast("double") / (nq * 5), 6).as("recall"))
    arm(40).unionByName(arm(80)).orderBy("arm")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- text analysis ---
    "t01_token_stats" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val tc = TextAnalysis.tokenCount($"text")
      docs.select($"doc_id",
        tc.cast("long").as("n_tokens"),
        TextAnalysis.distinctTokenCount($"text").cast("long").as("n_distinct"),
        length($"text").cast("long").as("n_chars"),
        round(TextAnalysis.tokenLenSum($"text").cast("double") / tc.cast("double"), 6)
          .as("mean_token_len"))
        .orderBy($"doc_id")
    },

    // Winnowing fingerprints (Schleimer et al. SIGMOD'03): the
    // position-robust document signature — any shared substring of
    // length >= w+k-1 guarantees a shared fingerprint, at ~2/(w+1) the
    // density of the full k-gram set. One JVM pass per document.
    "t07_winnowing" -> { (s, dir) =>
      import s.implicits.{newProductEncoder, newLongEncoder, newStringEncoder}
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text").cast("string"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val (m, nFp, fpSum) = graft.functions.TextKernels.winnowFingerprints(
            if (text == null) "" else text, k = 5, w = 4)
          (id, m, nFp, fpSum)
        }
        .toDF("doc_id", "n_kgrams", "n_fingerprints", "fp_sum")
        .filter(col("n_kgrams") > 0)
        .orderBy("doc_id")
    },

    // BPE-ish subword token counting (the GPT-2 pre-tokenizer shape, in
    // the lookahead-free RE2 subset) alongside t01's whitespace count —
    // what an LLM-data pipeline budgets documents by. One JVM pass per
    // doc; the oracle runs the equivalent regex in DuckDB's RE2.
    "t06_bpe_tokens" -> { (s, dir) =>
      import s.implicits.{newProductEncoder, newLongEncoder, newStringEncoder}
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text").cast("string"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val t = if (text == null) "" else text
          (id, graft.functions.TextKernels.bpeTokenCount(t),
            graft.functions.TextKernels.tokens(t).length.toLong)
        }
        .toDF("doc_id", "n_bpe_tokens", "n_ws_tokens")
        .orderBy("doc_id")
    },

    "t02_lang_profile" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").cast("long").as("sum_chars"),
          sum(TextAnalysis.stopwordCount($"text", stopList)).cast("long").as("stop_hits"),
          sum(TextAnalysis.tokenCount($"text").cast("long")).cast("long").as("n_tokens"))
        .withColumn("stop_ratio",
          round($"stop_hits".cast("double") / $"n_tokens".cast("double"), 6))
        .orderBy($"lang")
    },

    "t03_quality_scores" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id",
          TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"),
          TextAnalysis.qualityScore($"text", stopList).as("score"))
        .orderBy($"doc_id")
    },

    "t04_lang_id" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy($"lang", TextAnalysis.langGuess($"text").as("guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"guess")
    },

    // Classifier evaluation metrics — the ML-eval layer over t04's
    // confusion matrix: per-class TP / predicted / actual counts and
    // precision / recall / F1, each ONE rounded division from exact
    // integers (F1 spelled 2tp/(n_pred+n_true) — never composed from
    // already-rounded p and r). Class set = labels ∪ guesses via full
    // outer join; a class never predicted (or never true) scores 0.
    // Everything data-sized is the one confusion-matrix aggregate;
    // the metric joins touch |classes| rows.
    "t36_langid_metrics" -> { (s, dir) =>
      import s.implicits._
      val cm = persist(s.read.parquet(s"$dir/documents.parquet")
        .groupBy($"lang", TextAnalysis.langGuess($"text").as("guess"))
        .agg(count(lit(1)).as("n")))
      val byTrue = cm.groupBy($"lang".as("cls_t")).agg(sum($"n").as("n_true"))
      val byPred = cm.groupBy($"guess".as("cls_p")).agg(sum($"n").as("n_pred"))
      val diag = cm.filter($"lang" === $"guess")
        .select($"lang".as("cls_d"), $"n".as("tp"))
      byTrue.join(byPred, $"cls_t" === $"cls_p", "full_outer")
        .select(coalesce($"cls_t", $"cls_p").as("cls"),
          coalesce($"n_true", lit(0L)).as("n_true"),
          coalesce($"n_pred", lit(0L)).as("n_pred"))
        .join(diag, $"cls" === $"cls_d", "left_outer")
        .select($"cls", coalesce($"tp", lit(0L)).as("tp"), $"n_pred", $"n_true")
        .withColumn("precision", round(when($"n_pred" > 0,
          $"tp".cast("double") / $"n_pred").otherwise(0.0), 6))
        .withColumn("recall", round(when($"n_true" > 0,
          $"tp".cast("double") / $"n_true").otherwise(0.0), 6))
        .withColumn("f1", round(when($"n_pred" + $"n_true" > 0,
          ($"tp" * 2).cast("double") / ($"n_pred" + $"n_true")).otherwise(0.0), 6))
        .orderBy($"cls")
    },

    // Vocabulary-growth curve (Heaps' law) — the corpus-monitoring
    // shape: as docs are ingested in id order, how many NEW token
    // types each 50-doc bucket contributes vs its raw token volume.
    // "First sighting" is min(doc_id) per distinct type — ONE
    // data-sized hash aggregate over the exploded token stream (no
    // window over tokens, no sort); everything after is per-bucket
    // (O(n_docs/50) rows): two tiny aggregates, one equi-join, and
    // prefix sums over the bucket axis. The curve's flattening rate
    // is the dedup-potential diagnostic at 100 TB.
    "t37_vocab_growth" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val toks = docs.select($"doc_id".cast("long").as("doc_id"),
        explode(TextAnalysis.tokens($"text")).as("tok"))
      val newTypes = toks.groupBy($"tok").agg(min($"doc_id").as("first_doc"))
        .groupBy(($"first_doc" / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("new_types"))
      val vol = toks.groupBy(($"doc_id" / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_tokens"))
      val w = Window.orderBy($"bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vol.join(newTypes, Seq("bucket"), "left")
        .na.fill(0L, Seq("new_types"))
        .withColumn("cum_tokens", sum($"n_tokens").over(w).cast("long"))
        .withColumn("cum_types", sum($"new_types").over(w).cast("long"))
        .select($"bucket", $"n_tokens", $"new_types", $"cum_tokens", $"cum_types")
        .orderBy($"bucket")
    },

    // Collocation mining (pointwise mutual information over adjacent
    // token pairs) — the phrase-detection pass of a tokenizer/corpus
    // pipeline. Bigrams come from a zero-shuffle array zip (slice +
    // arrays_zip + explode), never a positional self-join; PMI is the
    // shared integer-exact 16.16 fixed-point log2 (Mixture.log2Fp)
    // summed termwise — log2fp(np) + 2·log2fp(N) − log2fp(Nb) −
    // log2fp(na) − log2fp(nb) — so no product ever exceeds long range
    // at any scale and the oracle replays the ranking bit-for-bit.
    // Data-sized work: two token-stream hash aggregates + two
    // vocab-sized equi-joins; top-100 via TakeOrderedAndProject.
    "t38_collocations" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
      // consumers: totals + the two bigram-side joins
      val uni = persist(docs.select(explode($"toks").as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("n_tok")))
      val bi = docs
        .select(explode(expr(
          """arrays_zip(slice(toks, 1, size(toks) - 1),
            |           slice(toks, 2, size(toks) - 1))""".stripMargin)).as("p"))
        .select($"p".getField("0").as("tok_a"), $"p".getField("1").as("tok_b"))
        .groupBy($"tok_a", $"tok_b").agg(count(lit(1)).as("n_pair"))
      val tot = broadcast(uni.agg(sum($"n_tok").as("n_total")))
      val nb = broadcast(bi.agg(sum($"n_pair").as("nb_total")))
      import graft.operators.Mixture.log2Fp
      bi.filter($"n_pair" >= 20)
        .join(uni.select($"tok".as("tok_a"), $"n_tok".as("n_a")), "tok_a")
        .join(uni.select($"tok".as("tok_b"), $"n_tok".as("n_b")), "tok_b")
        .crossJoin(tot).crossJoin(nb)
        .withColumn("pmi_fp",
          (log2Fp("n_pair") + log2Fp("n_total") * 2 -
            log2Fp("nb_total") - log2Fp("n_a") - log2Fp("n_b")).cast("long"))
        .select($"tok_a", $"tok_b", $"n_pair", $"n_a", $"n_b", $"pmi_fp")
        .orderBy($"pmi_fp".desc, $"tok_a", $"tok_b")
        .limit(100)
    },

    "t05_fingerprints" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id",
          md5($"text").as("fp_md5"),
          TextAnalysis.rollingHash($"text").as("fp_roll"))
        .orderBy($"doc_id")
    },

    // --- training-data curation (Mixture) ---

    // Deterministic hash-bucket train/val/test split: per (lang, split)
    // doc and token counts. Pure projection + one aggregate — the split
    // assignment itself never shuffles.
    "t08_train_split" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("split", Mixture.splitColumn($"doc_id"))
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount($"text").cast("long")).as("sum_tokens"))
        .orderBy($"lang", $"split")
    },

    // Deterministic stratified downsampling: per-language keep rates
    // applied as a pure hash predicate (reproducible sampleBy — same
    // keep-set on any cluster/engine; zh deliberately absent => dropped).
    // Emits the kept rows themselves so the oracle checks the exact
    // keep-set, not just counts.
    "t13_stratified_sample" -> { (s, dir) =>
      import s.implicits._
      Mixture.stratifiedSample(
          s.read.parquet(s"$dir/documents.parquet"),
          "lang", "doc_id", NorthStar.T13Rates)
        .select($"doc_id", $"lang")
        .orderBy($"doc_id")
    },

    // Temperature-weighted domain mixture (GPT-3 / Gopher sampling):
    // weight each source by tot_tokens^0.5, scale to a 26k-token
    // budget, clamp at 1, keep rows by the deterministic hash
    // predicate. Per-domain summary so the oracle checks rates AND the
    // exact keep-set's doc/token counts (26k clamps 2 of the 20
    // sources at sf0.01 — both least() branches execute).
    "t19_temperature_mix" -> { (s, dir) =>
      import s.implicits._
      Mixture.temperatureMixture(
          s.read.parquet(s"$dir/documents.parquet"),
          "source", "doc_id", TextAnalysis.tokenCount($"text"),
          budgetTokens = 26000L, alpha = 0.5)
        .groupBy($"domain", round($"rate", 6).as("rate"))
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("tot_tokens"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"keep", $"n_tokens").otherwise(0L)).as("kept_tokens"))
        .select($"domain", $"n_docs", $"tot_tokens", $"rate",
          $"n_kept", $"kept_tokens")
        .orderBy($"domain")
    },

    // fastText-shaped hashed-ngram linear quality scorer (Joulin et
    // al. 2016 shape): unigram+bigram hashing-trick features over 1024
    // buckets, a fixed Knuth-multiplicative weight table standing in
    // for trained weights, mean-of-weights score. All-integer until
    // the single final division — the oracle reproduces it exactly.
    // The 100 TB shape: one narrow scan, per-row higher-order-function
    // arithmetic, zero shuffles before the display sort.
    "t20_linear_quality" -> { (s, dir) =>
      import s.implicits._
      val buckets = TextAnalysis.hashedNgramBuckets($"text", 1024)
      s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", buckets.as("buckets"))
        .select($"doc_id", size($"buckets").cast("long").as("n_feats"),
          aggregate($"buckets", lit(0L),
            (acc, b) => acc + TextAnalysis.bucketWeight(b)).as("w_sum"))
        .select($"doc_id", $"n_feats", $"w_sum",
          round($"w_sum".cast("double") /
            ($"n_feats".cast("double") * 1000001.0), 6).as("score"),
          ($"w_sum" > 0).cast("long").as("keep"))
        .orderBy($"doc_id")
    },

    // Link-authority scoring (PageRank as a curation quality prior):
    // 5 damped power iterations over a deterministic synthetic link
    // graph (fanout 3), in FIXED-POINT INTEGER arithmetic so the
    // oracle replays the iteration bit-for-bit (float PageRank differs
    // across engines in the last ULP because reduction order differs).
    // Each iteration: one equi-join on src + one partial-agg sum keyed
    // by dst — the graph's natural shuffle key.
    "t21_link_authority" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val nodes = docs.select($"doc_id".cast("long").as("id"))
      val edges = Graph.syntheticLinks(docs, "doc_id", nodes.count())
      Graph.pageRankFixedPoint(nodes, edges, iters = 5)
        .select($"id".as("node"), $"rank_fp",
          round($"rank_fp".cast("double") / 1e12, 6).as("rank"))
        .orderBy("node")
    },

    // DSIR-shaped importance resampling (Xie et al. 2023): target =
    // src0-src2 (15% of the corpus), features = t20's hashed unigram+
    // bigram buckets, per-bucket log-likelihood ratio in the
    // integer-exact 16.16 fixed-point log2 (binary-string-length
    // exponent + linear mantissa — no libm call to drift by a ULP).
    // keep = mean feature ratio >= -170000/65536 ~ -2.594 bits,
    // i.e. "no more below-average-target-likeness than the corpus
    // bulk" (target prior is log2(0.15) ~ -2.74).
    "t22_dsir_importance" -> { (s, dir) =>
      import s.implicits._
      Mixture.dsirImportance(
          s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", $"source".isin("src0", "src1", "src2"),
          dim = 1024, thrFp = -170000L)
        .orderBy("doc_id")
    },

    // CCNet-shaped perplexity filter (Wenzek et al. 2020): a hashed-
    // bigram LM stands in for KenLM — the corpus collapses to
    // dim-bounded context/bigram marginal count tables (broadcastable
    // at ANY corpus size by construction), per-bigram surprisal in the
    // shared integer-exact 16.16 fixed-point log2, keep = doc
    // floor-mean bits <= corpus floor-mean bits (a relative bar that
    // discriminates at every scale). Two corpus scans total: model
    // build + broadcast-join scoring.
    "t23_lm_perplexity" -> { (s, dir) =>
      Mixture.lmPerplexity(
          s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", ctxDim = 1024, biDim = 65536)
        .orderBy("doc_id")
    },

    // FASTTEXT-SHAPED QUALITY CLASSIFIER (the model-based filter step
    // of CCNet/LLaMA-style pipelines, Joulin et al. 2016 architecture):
    // hashed unigram+bigram features (t22's bucket convention, 2^17
    // buckets) scored by a linear model and gated at 0. The weight
    // table is a FROZEN deterministic stand-in (Knuth-mix of the
    // bucket id → integer weight in [-1000, 1000], the same seam a
    // trained .bin's weights drop into — the Spark-side plumbing:
    // feature hashing, weight fold, margin gate, is the production
    // dataflow); weights ride as a column expression, so scoring is
    // ONE exploded scan + ONE partial-aggregated sum — no weight-table
    // join at all, and nothing grows with the corpus.
    "t45_quality_classifier" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val feats = docs.select($"doc_id", explode(
        TextAnalysis.hashedNgramBuckets($"text", 131072)).as("bucket"))
      val w = ($"bucket" + 1L) * lit(2654435761L) % 2147483648L % 2001L -
        1000L
      feats.select($"doc_id", w.as("w"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_feats"),
          sum($"w").as("score_fp"))
        .select($"doc_id", $"n_feats", $"score_fp",
          ($"score_fp".cast("double") / ($"n_feats" * 1000.0))
            .as("score"),
          ($"score_fp" > 0L).as("keep"))
        .orderBy("doc_id")
    },

    // TRAINED QUALITY CLASSIFIER (t45 with the frozen stand-in weights
    // replaced by a REAL training run): naive-Bayes log-odds weights in
    // 16.16 fixed point, learned from a deterministic 256-doc
    // hash-order sample labeled by t23's perplexity gate, plus an
    // EXACT calibrated decision threshold (argmax training accuracy
    // over the sample score cut points). The teacher thresholds mean
    // hashed-bigram surprisal — linear in the student's feature space —
    // so the distillation genuinely learns (ClassifierSpec holds the
    // holdout floor: 0.631 vs the 0.502 majority baseline at sf0.01;
    // a 10-round full-batch integer perceptron was tried first and
    // measurably thrashed, see trainQualityClassifierFp). Training is
    // one commutative aggregation pass + a bounded calibration scan,
    // so the oracle replays teacher, sample, weights, calibration, and
    // the corpus-wide apply end to end — hash-checked like s23/s24.
    "t46_trained_classifier" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val labels = persist(
        Mixture.lmPerplexity(docs, "doc_id", "text")
          .select($"doc_id", $"keep")) // teacher: sample + readout
      val (w, thr) = Mixture.trainQualityClassifierFp(docs, labels,
        dim = 4096, sampleN = 256)
      Mixture.applyQualityClassifier(docs, w, thr)
        .join(labels, Seq("doc_id"))
        .select($"doc_id", $"n_feats", $"score_fp", $"pred",
          $"keep".as("label"))
        .orderBy("doc_id")
    },

    // Efraimidis-Spirakis weighted sampling without replacement, 50
    // docs per source, weight = doc length: rank by the integer-exact
    // fixed-point key -log2(u)/w (u from the portable hash family);
    // the rank-filtered window plans as WindowGroupLimit, so every
    // task keeps only a local top-k before the shuffle.
    "t24_weighted_sample" -> { (s, dir) =>
      Mixture.weightedSample(
          s.read.parquet(s"$dir/documents.parquet"),
          "source", "doc_id", "n_chars", k = 50)
        .orderBy("stratum", "rn")
    },

    // Per-source top-10% selection by HISTOGRAM quantile (score =
    // n_chars bucketed by 16, 256 bins): the threshold derives from a
    // |sources|x256-bounded count table, never from a per-source sort —
    // the scale-sane spelling of "keep the longest tenth per domain",
    // exact at bucket granularity.
    "t25_histogram_threshold" -> { (s, dir) =>
      Mixture.histogramThreshold(
          s.read.parquet(s"$dir/documents.parquet"),
          "source", "doc_id", "n_chars",
          bucketWidth = 16L, nBuckets = 256, topNum = 1L, topDen = 10L)
        .orderBy("doc_id")
    },

    // Count-min heavy hitters over the token stream: the 4x1024
    // sketch is size-bounded BY CONSTRUCTION (broadcasts at any corpus
    // scale); estimates come from one broadcast probe join; the exact
    // count rides along as the measured overcount, q35's
    // sketch-vs-exact convention. Deterministic portable hashes, so
    // the oracle replays the sketch bit-for-bit.
    "t26_cm_heavy_hitters" -> { (s, dir) =>
      TextIndex.cmHeavyHitters(
          s.read.parquet(s"$dir/documents.parquet"), "text",
          minCount = 500L, depth = 4, width = 1024)
        .orderBy("term")
    },

    // HyperLogLog distinct-trigram estimate (p=10, 1024 registers) —
    // the fourth sketch beside Bloom/KMV/CM, over the shingle-hash
    // stream (~16k distinct: the raw-HLL regime; the 31-term token
    // vocabulary would sit in the small-range regime raw HLL cannot
    // serve without a transcendental correction). Exact integer
    // numerator, one textually-fixed double expression, measured error
    // vs the exact distinct count (q35's convention).
    "t30_hll_distinct" -> { (s, dir) =>
      TextIndex.hllDistinct(
        Dedup.shingles(s.read.parquet(s"$dir/documents.parquet"),
          "text", "doc_id", n = 3).select(col("sh")),
        "sh", p = 10)
    },

    // Per-language HLL distinct-trigram estimates (p=8, 256 registers
    // per group) — APPROX_COUNT_DISTINCT as an explicit mergeable
    // sketch; register state = |langs| * 2^p rows by construction.
    "t31_hll_by_lang" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val withLang = Dedup.shingles(docs, "text", "doc_id", n = 3)
        .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
      TextIndex.hllDistinctByGroup(withLang, "lang", "sh", p = 8)
        .withColumnRenamed("grp", "lang")
        .orderBy("lang")
    },

    // SQL-authored curation pipeline — t17's quality filter -> exact
    // dedup -> hash split spelled entirely in spark.sql (the d11/s17
    // move applied to curation: a SQL-only user can run the whole
    // pipeline); shares t17's oracle verbatim.
    "t29_sql_curation" -> { (s, dir) =>
      sqlOver(s, "graft_t29_docs" -> s.read.parquet(s"$dir/documents.parquet"))(
        s"""WITH u AS (
              |  SELECT doc_id, text, lang FROM graft_t29_docs
              |  UNION ALL
              |  SELECT doc_id + 100000, text, lang FROM graft_t29_docs),
              |f AS (SELECT doc_id, text, lang,
              |    split(trim(text), '\\\\s+') AS toks FROM u),
              |g AS (SELECT doc_id, text, lang, toks,
              |    size(toks) AS n,
              |    aggregate(transform(toks, t -> cast(length(t) as bigint)),
              |      0L, (a, b) -> a + b) AS lensum,
              |    size(array_distinct(toks)) AS ndist,
              |    size(filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS stop,
              |    array_max(transform(array_distinct(toks),
              |      d -> cast(size(filter(toks, x -> x = d)) as bigint))) AS mf
              |  FROM f),
              |k AS (SELECT doc_id, text, lang FROM g
              |  WHERE n >= 40
              |    AND cast(lensum as double) / n >= 3.0
              |    AND cast(lensum as double) / n <= 10.0
              |    AND cast(ndist as double) / n >= 0.5
              |    AND stop >= 2
              |    AND cast(mf as double) / n <= 0.12),
              |fp AS (SELECT doc_id, text, lang, md5(text) AS fp FROM k),
              |canon AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp)
              |SELECT c.doc_id, fp.lang,
              |  ${Mixture.splitColumnSql("c.doc_id")} AS split,
              |  cast(size(split(trim(fp.text), '\\\\s+')) as bigint) AS n_tokens
              |FROM fp JOIN canon c ON c.fp = fp.fp AND c.doc_id = fp.doc_id
              |ORDER BY doc_id""".stripMargin)
    },

    // Corpus novelty scoring: fraction of each doc's distinct trigram
    // shingles with corpus df == 1 — posting aggregates only, no pair
    // join. On the planted-copy corpus originals keep only their
    // truncated tail as novel; copies collapse to ~0.
    "t28_novelty" -> { (s, dir) =>
      TextIndex.noveltyScores(mutCorpus(s, dir), "text", "doc_id", n = 3)
        .orderBy("doc_id")
    },

    // RAG/training-window chunking with overlap (64-token windows,
    // stride 48): tokenize once, explode one sequence, slice — a
    // completely narrow per-row op (no shuffle anywhere in the plan).
    // Chunk counts are exact floor-div arithmetic and the emitted
    // rolling hash stands in for the window text, so chunk-level dedup
    // downstream moves 8 bytes per chunk.
    "t27_chunk_overlap" -> { (s, dir) =>
      Mixture.chunkOverlap(s.read.parquet(s"$dir/documents.parquet"),
          chunkTok = 64, stride = 48)
        .orderBy("doc_id", "chunk_id")
    },

    // Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1
    // shape): per-document metrics + one flag per rule + the conjunctive
    // keep verdict. Every metric is exact-integer-derived double
    // arithmetic (engine-portable); thresholds are applied to the RAW
    // ratios (rounding only for display) so the verdict can never drift
    // on a rounding boundary. Pure per-row projection — no shuffle.
    "t14_quality_rules" -> { (s, dir) =>
      import s.implicits._
      val n = TextAnalysis.tokenCount($"text").cast("long")
      val nd = n.cast("double")
      val mwl = TextAnalysis.tokenLenSum($"text").cast("double") / nd
      val div = TextAnalysis.distinctTokenCount($"text").cast("double") / nd
      val stop = TextAnalysis.stopwordCount($"text", stopList)
      val mf = TextAnalysis.maxTokenFreq($"text").cast("double") / nd
      val keep = TextAnalysis.qualityKeep($"text", stopList)
      s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", n.as("n_words"),
          round(mwl, 6).as("mean_word_len"),
          round(div, 6).as("diversity"),
          stop.as("stop_hits"),
          round(mf, 6).as("max_tok_frac"),
          keep.cast("long").as("keep"))
        .orderBy($"doc_id")
    },

    // Within-document repetition stats (the Gopher repetition filters):
    // most-frequent-bigram fraction and duplicate-trigram fraction.
    // N-grams are aligned-slice zip_with arrays; mode counting is an
    // O(n·distinct) per-row scan — never a shuffle, never an explode.
    "t15_repetition" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id",
          TextAnalysis.tokenNgrams($"text", 2).as("g2"),
          TextAnalysis.tokenNgrams($"text", 3).as("g3"))
        .select($"doc_id",
          size($"g2").cast("long").as("n_2grams"),
          TextAnalysis.modeCount($"g2").as("top2_n"),
          size($"g3").cast("long").as("n_3grams"),
          (size($"g3") - size(array_distinct($"g3"))).cast("long").as("n_dup3"))
        .withColumn("top2_frac", round(
          when($"n_2grams" > 0, $"top2_n".cast("double") / $"n_2grams").otherwise(0.0), 6))
        .withColumn("dup3_frac", round(
          when($"n_3grams" > 0, $"n_dup3".cast("double") / $"n_3grams").otherwise(0.0), 6))
        .orderBy($"doc_id")
    },

    // PII pattern detection + redaction stats — the scrubbing pass every
    // training corpus runs before release. The testdata has no PII, so
    // deterministic synthetic PII (email / phone / IPv4 derived from
    // doc_id) is injected identically in both engines, then detected
    // with RE2-subset regexes (no lookaround/backrefs — portable
    // Spark <-> DuckDB like t06) and redacted; the md5 of the redacted
    // text proves the replacement itself matches byte-for-byte. Pure
    // per-row projection.
    "t16_pii_stats" -> { (s, dir) =>
      import s.implicits._
      val aug = concat($"text",
        when($"doc_id" % 7 === 0,
          concat(lit(" contact u"), $"doc_id", lit("@example.com now"))).otherwise(""),
        when($"doc_id" % 11 === 0,
          concat(lit(" call 555-01"),
            lpad(($"doc_id" % 100).cast("string"), 2, "0"), lit(" today"))).otherwise(""),
        when($"doc_id" % 13 === 0,
          concat(lit(" host 10.0."), ($"doc_id" % 256).cast("string"),
            lit(".1 up"))).otherwise(""))
      val redacted = regexp_replace(regexp_replace(regexp_replace(aug,
        lit(PiiEmailRe), lit("<EMAIL>")),
        lit(PiiIpRe), lit("<IP>")),
        lit(PiiPhoneRe), lit("<PHONE>"))
      s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id",
          org.apache.spark.sql.functions.size(
            regexp_extract_all(aug, lit(PiiEmailRe), lit(0))).cast("long").as("n_emails"),
          org.apache.spark.sql.functions.size(
            regexp_extract_all(aug, lit(PiiPhoneRe), lit(0))).cast("long").as("n_phones"),
          org.apache.spark.sql.functions.size(
            regexp_extract_all(aug, lit(PiiIpRe), lit(0))).cast("long").as("n_ips"),
          md5(redacted).as("redacted_md5"))
        .orderBy($"doc_id")
    },

    // The end-to-end curation pipeline — what this engine exists for,
    // composed from the operators the individual queries verify:
    // Gopher-rule quality filter (t14's shared verdict) -> exact dedup
    // to the min-id canonical (d01's shape) -> deterministic hash
    // split (t08's) over the planted-duplicate corpus. Every stage is
    // a projection, one aggregate, or a semi join — the whole pipeline
    // shuffles twice (dedup group, dedup semi join) regardless of
    // corpus size.
    "t17_curation_pipeline" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.select($"doc_id", $"text", $"lang")
        .unionByName(docs.select(($"doc_id" + 100000).as("doc_id"), $"text", $"lang"))
      curationPipeline(corpus).orderBy($"doc_id")
    },

    // Per-source triage dashboard — the first thing a curation run
    // reports: per source, doc count, rule keep-rate, mean quality
    // score (summed as exact decimals so group order can't wiggle the
    // mean), token volume, and the cross-doc boilerplate line ratio
    // (t12's posting join over the base corpus). Two shuffles: the
    // line posting aggregate and the final per-source aggregate.
    "t18_source_triage" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val perDoc = docs.select($"doc_id", $"source",
        TextAnalysis.qualityKeep($"text", stopList).cast("long").as("keep"),
        TextAnalysis.qualityScore($"text", stopList)
          .cast(DecimalType(18, 6)).as("score_dec"),
        TextAnalysis.tokenCount($"text").cast("long").as("n_toks"))
      val lines = Dedup.lineDupStats(docs, "text", "doc_id")
        .select($"doc_id", $"n_lines", $"n_dup_lines")
      perDoc.join(lines, "doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"keep").as("n_keep"),
          sum($"score_dec").as("sum_score"),
          sum($"n_toks").as("sum_tokens"),
          sum($"n_dup_lines").as("dl"), sum($"n_lines").as("nl"))
        .select($"source", $"n_docs", $"n_keep",
          round($"n_keep".cast("double") / $"n_docs", 6).as("keep_rate"),
          round($"sum_score".cast("double") / $"n_docs", 6).as("mean_score"),
          $"sum_tokens",
          round($"dl".cast("double") / $"nl", 6).as("dup_line_ratio"))
        .orderBy($"source")
    },

    // Token-budget mixture sampling: 2000 whitespace-tokens per language,
    // drawn in deterministic hash order via the two-pass distributed
    // prefix sum (no single-task stratum sort).
    "t09_token_budget" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", $"lang",
          TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      Mixture.tokenBudgetSample(docs, Seq("lang"), "doc_id", "n_tokens",
          budget = 2000L, nShards = 4)
        .select($"doc_id", $"lang", $"n_tokens", $"cum".as("cum_tokens"))
        .orderBy($"doc_id")
    },

    // Fixed-length sequence packing (concat-then-chunk, 256-token
    // sequences per language shard): each document's first pack, offset,
    // and last pack. Same distributed prefix sum; per-row arithmetic after.
    "t10_pack_sequences" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", $"lang",
          TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      Mixture.packSequences(docs, Seq("lang"), "doc_id", "n_tokens",
          seqLen = 256L, nShards = 4)
        .select($"doc_id", $"lang", $"n_tokens", $"pack_id", $"pack_offset", $"pack_end")
        .orderBy($"doc_id")
    },

    // Most salient term per document by exact integer (tf DESC, df ASC)
    // rank — the TF-IDF building block (inverted index + doc frequency).
    "t11_top_tfidf" -> { (s, dir) =>
      import s.implicits._
      TextIndex.topTerms(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 1)
        .select($"id".as("doc_id"), $"term", $"tf", $"df")
        .orderBy($"doc_id")
    },

    // --- dedup ---
    "d01_exact_dedup" -> { (s, dir) =>
      Dedup.exactDuplicates(dupCorpus(s, dir), "text", "doc_id")
        .orderBy("content_md5")
    },

    "d02_ngram_jaccard" -> { (s, dir) =>
      Dedup.jaccardPairs(mutCorpus(s, dir), "text", "doc_id", n = 3, minJaccard = 0.5)
        .orderBy("id_a", "id_b")
    },

    "d03_minhash_bands" -> { (s, dir) =>
      Dedup.lshBands(Dedup.minhashes(mutCorpus(s, dir), "text", "doc_id", 16, 3), 16, 4)
        .orderBy("id")
    },

    "d04_lsh_pairs" -> { (s, dir) =>
      Dedup.lshCandidatePairs(mutCorpus(s, dir), "text", "doc_id", 16, 4, 3)
        .orderBy("id_a", "id_b")
    },

    // d04's entire MinHash-LSH pipeline AUTHORED IN SQL — the s14 move
    // applied to dedup: graft_minhash_sig (GraftExtensions-registered
    // codegen kernel) gives SQL the per-doc signature, and the corpus
    // mutation, banding, first-agreeing-band pair dedup (no DISTINCT
    // exchange — same inline trick as the Scala operator) and est_sim
    // verify are plain Spark SQL. Shares d04's oracle verbatim: a
    // SQL-first user writes this and gets the Scala pipeline's exact
    // answer.
    "d11_sql_lsh_pairs" -> { (s, dir) =>
      sqlOver(s, "graft_d11_docs" -> s.read.parquet(s"$dir/documents.parquet"))(
        """WITH u AS (
              |  SELECT doc_id, text FROM graft_d11_docs
              |  UNION ALL
              |  SELECT doc_id + 100000,
              |    array_join(slice(split(trim(text), '\\s+'), 1,
              |      greatest(cast(floor(size(split(trim(text), '\\s+')) * 0.8) as int), 1)), ' ')
              |  FROM graft_d11_docs),
              |mh AS (SELECT doc_id AS id, graft_minhash_sig(text, 16, 3) AS mh FROM u),
              |b AS (SELECT id, mh,
              |  transform(sequence(0, 3), t -> array_join(slice(mh, t * 4 + 1, 4), '-')) AS sigs
              |  FROM mh),
              |e AS (SELECT id, mh, sigs, band_no, element_at(sigs, band_no + 1) AS sig
              |  FROM b LATERAL VIEW explode(sequence(0, 3)) AS band_no),
              |p AS (SELECT x.id AS id_a, y.id AS id_b, x.mh AS mh_a, y.mh AS mh_b
              |  FROM e x JOIN e y
              |    ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id
              |  WHERE x.band_no = 0 OR forall(sequence(0, x.band_no - 1),
              |    t -> element_at(x.sigs, t + 1) != element_at(y.sigs, t + 1)))
              |SELECT id_a, id_b,
              |  round(cast(size(filter(zip_with(mh_a, mh_b, (a, b) -> a = b), v -> v))
              |    as double) / 16, 6) AS est_sim
              |FROM p ORDER BY id_a, id_b""".stripMargin)
    },

    "d08_dedup_pipeline" -> { (s, dir) =>
      Dedup.dedupVerdicts(mutCorpus(s, dir), "text", "doc_id",
        k = 16, bands = 4, n = 3, minEstSim = 0.5)
        .orderBy("doc_id")
    },

    // DEDUP-AWARE MIXTURE REWEIGHTING — the pipeline composition every
    // corpus build runs: dedup FIRST, then recompute the temperature
    // sampling rates on what survived, so a source full of near-dups
    // loses sampling weight exactly in proportion to what dedup took.
    // d08's verdicts pick the kept members of the mutated corpus (the
    // 80%-prefix mutants collapse onto their originals), kept docs
    // inherit their original's source, and t19's fixed-point
    // temperature math reruns on the kept token mass. Readout: per
    // source, before/after doc+token mass, the post-dedup rate, and
    // the sampled yield. The oracle replays the d08 closure AND the
    // mixture end to end.
    "t50_dedup_remix" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val mut = persist(mutCorpus(s, dir)) // verdicts + before agg + kept corpus
      val srcMap = docs.select($"doc_id".as("base_id"), $"source")
      val keptIds = Dedup.dedupVerdicts(mut, "text", "doc_id",
          k = 16, bands = 4, n = 3, minEstSim = 0.5)
        .filter($"is_kept").select($"doc_id")
      val withSrc = mut.withColumn("base_id", $"doc_id" % 100000)
        .join(srcMap, "base_id")
      val bef = withSrc.groupBy($"source".as("domain"))
        .agg(count(lit(1)).as("n_docs_before"),
          sum(TextAnalysis.tokenCount($"text")).as("tokens_before"))
      val aft = Mixture.temperatureMixture(
          withSrc.join(keptIds, Seq("doc_id"), "left_semi"),
          "source", "doc_id", TextAnalysis.tokenCount($"text"),
          budgetTokens = 26000L, alpha = 0.5)
        .groupBy($"domain", round($"rate", 6).as("rate"))
        .agg(count(lit(1)).as("n_docs_kept"),
          sum($"n_tokens").as("tokens_kept"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_sampled"),
          sum(when($"keep", $"n_tokens").otherwise(0L)).as("sampled_tokens"))
      bef.join(aft, "domain")
        .select($"domain", $"n_docs_before", $"tokens_before",
          $"n_docs_kept", $"tokens_kept", $"rate", $"n_sampled",
          $"sampled_tokens")
        .orderBy($"domain")
    },

    // CCNET PERPLEXITY BUCKETS (Wenzek et al. 2020 §4.4) — the
    // language-stratified head/middle/tail split CCNet publishes its
    // corpus in: per language, docs are cut into perplexity tertiles
    // (lowest-bits third = head, the slice kept for clean pretraining
    // data). Composition of t23's hashed-bigram LM (exact integer
    // bits) with t25's histogram-threshold discipline: tertile cuts
    // derive from a |langs|x256 histogram of the integer bits score —
    // never a per-language sort — so the class is exact at 1/8-bit
    // bucket granularity and the whole chain (LM counts, surprisal,
    // histogram, cuts, class) replays in SQL. At 100 TB: two corpus
    // scans (LM build + score), one bounded histogram, one broadcast
    // threshold join.
    "t51_ccnet_buckets" -> { (s, dir) =>
      Mixture.ccnetBuckets(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    },

    // CLUSTER-BALANCED SELECTION — the "cluster then balance" curation
    // move (SemDeDup/DataComp-style: a uniform sample over-represents
    // dense regions; capping per semantic cluster flattens the
    // distribution): every embedding is assigned to its trained
    // k-means cell (s27's broadcast argmax assignment over the
    // fixed-point trained centroids), then at most CAP=8 members per
    // cell survive, chosen by the portable sample-hash order — an
    // order-free deterministic uniform pick, the same discipline as
    // every sampler on the board. The per-cell rank is a rank-FILTERED
    // window (rn <= cap), so it plans as WindowGroupLimit: each task
    // keeps a local top-cap before the shuffle and the post-filter
    // output is |cells|·cap rows — nothing sorts the corpus globally.
    // Training replays in SQL (s23's contract), so the whole selection
    // is hash-checked end to end.
    "t52_cluster_balance" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val trained = Similarity.ivfTrainCentroidsFp(emb, nlist = 32)
      val cent = broadcast(trained.toSeq
        .map { case (cid, cv) => (cid, cv.toSeq) }.toDF("c_id", "c_vec"))
      val asg = emb
        .select($"vec_id".cast("long").as("vec_id"), $"embedding")
        .crossJoin(cent)
        .withColumn("cos_c", Similarity.cosine($"embedding", $"c_vec"))
        .groupBy($"vec_id")
        .agg(max(struct($"cos_c", (-$"c_id").as("neg_c"), $"c_id"))
          .as("b"))
        .select($"vec_id", $"b.c_id".as("c_id"))
      val pinned = persist(asg) // sizes + ranked pick
      val h = Mixture.portableHash($"vec_id", Mixture.SampleI)
      val wc = Window.partitionBy($"c_id").orderBy($"h".asc, $"vec_id".asc)
      val kept = pinned.withColumn("h", h)
        .withColumn("rn", row_number().over(wc).cast("long"))
        .filter($"rn" <= 8L)
      val sz = pinned.groupBy($"c_id").agg(count(lit(1)).as("n_members"))
      kept.join(broadcast(sz), "c_id")
        .select($"vec_id", $"c_id", $"n_members", $"rn")
        .orderBy("c_id", "rn")
    },

    // PER-SOURCE KL DIVERGENCE to the corpus unigram distribution —
    // the domain-shift readout a mixture tuner reads before setting
    // sampling weights (the distributional summary behind t22's DSIR
    // scores): KL(P_src ‖ P_corpus) = Σ_t p_st·(log2 c_st + log2 N −
    // log2 N_s − log2 c_t), every log in the shared integer-exact
    // 16.16 fixed point (Mixture.log2Fp) so the per-source numerator
    // Σ c_st·lr is an order-free bigint sum; the only float op is the
    // final readout division. 100 TB shape: one exploded scan feeds
    // the (source, token) partial aggregate; token marginals and
    // source totals derive from THAT table (vocab-sized, not
    // corpus-sized); the marginal join is an equi-join on token and
    // the tiny source/corpus totals broadcast.
    "t53_source_kl" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.Mixture.log2Fp
      val st = s.read.parquet(s"$dir/documents.parquet")
        .select($"source", explode(TextAnalysis.tokens($"text")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("c_st"))
      val pinned = persist(st) // marginals + term sums
      val ct = pinned.groupBy($"tok").agg(sum($"c_st").as("c_t"))
      val ns = pinned.groupBy($"source").agg(sum($"c_st").as("n_s"))
      val tot = pinned.agg(sum($"c_st").as("n_tot"))
      pinned.join(ct, "tok").join(broadcast(ns), "source")
        .crossJoin(broadcast(tot))
        .withColumn("lr",
          log2Fp("c_st") + log2Fp("n_tot") - log2Fp("n_s") - log2Fp("c_t"))
        .groupBy($"source")
        .agg(max($"n_s").as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(expr("c_st * lr")).as("num"))
        .select($"source", $"n_tokens", $"vocab",
          round($"num".cast("double") /
            ($"n_tokens".cast("double") * lit(65536.0)), 6).as("kl_bits"))
        .orderBy("source")
    },

    // B-CUBED EVALUATION of the dedup CLUSTERING — Bagga & Baldwin's
    // per-item precision/recall against the planted truth (doc i and
    // its 80%-prefix mutant i+100000 ARE one entity): t39 scores the
    // candidate stage, this scores the final clustering after CC
    // closure. One (pred, truth) contingency aggregate: per-item sums
    // collapse to Σ n_pt²/n_p and Σ n_pt²/n_t over cells, computed in
    // 1e6 fixed point per cell (exact integer floor division,
    // order-free bigint sums — engine-portable where a float sum over
    // cells would not be); F1 is one double expression at readout.
    "d22_bcubed_eval" -> { (s, dir) =>
      import s.implicits._
      val cells = Dedup.dedupVerdicts(mutCorpus(s, dir), "text", "doc_id",
          k = 16, bands = 4, n = 3, minEstSim = 0.5)
        .select($"canonical_id".as("p"), ($"doc_id" % 100000).as("t"))
        .groupBy($"p", $"t").agg(count(lit(1)).as("n_pt"))
      val np = cells.groupBy($"p").agg(sum($"n_pt").as("n_p"))
      val nt = cells.groupBy($"t").agg(sum($"n_pt").as("n_t"))
      cells.join(np, "p").join(nt, "t")
        .agg(sum($"n_pt").as("n_items"),
          sum(expr("n_pt * n_pt * 1000000 div n_p")).as("pfp"),
          sum(expr("n_pt * n_pt * 1000000 div n_t")).as("rfp"))
        .select($"n_items",
          round($"pfp".cast("double") /
            ($"n_items".cast("double") * lit(1e6)), 6).as("bcubed_precision"),
          round($"rfp".cast("double") /
            ($"n_items".cast("double") * lit(1e6)), 6).as("bcubed_recall"),
          round((lit(2.0) * $"pfp".cast("double") * $"rfp".cast("double")) /
            (($"pfp" + $"rfp").cast("double") *
              $"n_items".cast("double") * lit(1e6)), 6).as("bcubed_f1"))
    },

    // TIME TRAVEL — the read side of d18/d20's dataset-versioning
    // story: a 3-version change log (v1 full ingest; v2 = d18's
    // drop %13 / modify %7 / add %11; v3 modifies %5 of the still-live
    // docs and drops half the v2 adds) is reconstructed AS OF every
    // version in one pass. Each log row fans out to the versions it is
    // visible in via a pure projection (explode(sequence(ver, 3)) — no
    // join, no cartesian), the latest op per (version, doc) is a max
    // aggregate joined back to the log on its (doc_id, ver) key, and
    // deletes drop out at readout. At 100 TB the log is the SMALL
    // side: reconstruction is V× the log in flight (V bounded), one
    // hash aggregate and one equi-join — never a snapshot re-scan.
    "d23_time_travel" -> { (s, dir) =>
      import s.implicits._
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", length($"text").cast("long").as("len"))
      val log = base
        .select(lit(1L).as("ver"), $"doc_id", lit("upsert").as("op"), $"len")
        .unionByName(base.filter($"doc_id" % 13 === 0)
          .select(lit(2L).as("ver"), $"doc_id", lit("delete").as("op"),
            lit(0L).as("len")))
        .unionByName(base.filter($"doc_id" % 13 =!= 0 && $"doc_id" % 7 === 0)
          .select(lit(2L).as("ver"), $"doc_id", lit("upsert").as("op"),
            ($"len" + 3L).as("len")))
        .unionByName(base.filter($"doc_id" % 11 === 0)
          .select(lit(2L).as("ver"), ($"doc_id" + 200000L).as("doc_id"),
            lit("upsert").as("op"), ($"len" + 4L).as("len")))
        .unionByName(base.filter($"doc_id" % 13 =!= 0 && $"doc_id" % 5 === 0)
          .select(lit(3L).as("ver"), $"doc_id", lit("upsert").as("op"),
            ($"len" + 10L).as("len")))
        .unionByName(base.filter($"doc_id" % 22 === 0)
          .select(lit(3L).as("ver"), ($"doc_id" + 200000L).as("doc_id"),
            lit("delete").as("op"), lit(0L).as("len")))
      val pinned = persist(log) // fan-out + latest-op join back
      val fanned = pinned.withColumn("as_of_version",
        explode(expr("sequence(ver, 3)")))
      val latest = fanned.groupBy($"as_of_version", $"doc_id")
        .agg(max($"ver").as("mver"))
      latest.join(pinned,
          latest("doc_id") === pinned("doc_id") && latest("mver") === pinned("ver"))
        .select($"as_of_version", $"op", $"len")
        .groupBy($"as_of_version")
        .agg(sum(when($"op" === "upsert", 1L).otherwise(0L)).as("n_live"),
          sum(when($"op" === "upsert", $"len").otherwise(0L))
            .cast("long").as("sum_len"),
          sum(when($"op" === "delete", 1L).otherwise(0L)).as("n_deleted"))
        .orderBy("as_of_version")
    },

    // DEDUP SURVIVORSHIP-BIAS AUDIT — the fairness readout a curation
    // owner checks after d08 runs: per-source kept rate and the bias
    // index (source kept-rate / corpus kept-rate) — a source whose
    // boilerplate-heavy docs collapse into dup components loses
    // disproportionate mass, silently reweighting the corpus (the
    // survivorship counterpart of t50's deliberate reweighting). One
    // id-keyed source join on d08's verdicts + a per-source aggregate
    // with the corpus total as t19's broadcast scalar.
    "d24_dedup_bias" -> { (s, dir) =>
      import s.implicits._
      // corpus total + per-source aggregate
      val pinned = persist(
        Dedup.dedupVerdicts(mutCorpus(s, dir), "text", "doc_id",
            k = 16, bands = 4, n = 3, minEstSim = 0.5)
          .select(($"doc_id" % 100000).as("orig_id"),
            ($"doc_id" === $"canonical_id").as("kept"))
          .join(s.read.parquet(s"$dir/documents.parquet")
            .select($"doc_id".as("orig_id"), $"source"), Seq("orig_id")))
      val tot = pinned.agg(
        sum(when($"kept", 1L).otherwise(0L)).as("k_all"),
        count(lit(1)).as("n_all"))
      pinned.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"kept", 1L).otherwise(0L)).as("n_kept"))
        .crossJoin(broadcast(tot))
        .select($"source", $"n_docs", $"n_kept",
          round($"n_kept".cast("double") / $"n_docs", 6).as("kept_rate"),
          round(($"n_kept".cast("double") * $"n_all") /
            ($"n_docs".cast("double") * $"k_all"), 6).as("bias_index"))
        .orderBy("source")
    },

    // d08's pipeline with the "keep the best copy" canonical rule:
    // within each near-dup component keep the quality-argmax member
    // (quality = distinct-token count, integer-exact; ties to lowest
    // id) — the 80%-truncated copies lose to their originals even
    // though their ids sort later.
    "d15_canonical_by_quality" -> { (s, dir) =>
      import s.implicits._
      Dedup.dedupVerdictsByQuality(mutCorpus(s, dir), "text", "doc_id",
          size(array_distinct(TextAnalysis.tokens($"text"))).cast("long"),
          k = 16, bands = 4, n = 3, minEstSim = 0.5)
        .orderBy("doc_id")
    },

    // TAKEDOWN RE-ELECTION — the right-to-be-forgotten pass over the
    // deduplicated corpus (s42's story on the DEDUP asset): every
    // 37th doc is noticed and leaves; signatures and candidate pairs
    // stay FROZEN (removing a doc cannot change anyone else's bands,
    // so survivor pairs == frozen pairs minus pairs touching a
    // notice), only the tiny edge set re-closes — re-splitting any
    // component the noticed doc bridged — and the quality-argmax
    // re-elects. was_kept_before audits the re-elections: survivors
    // whose canonical copy was taken down and who now represent the
    // cluster. The oracle replays banding, BOTH closures, and both
    // argmaxes end to end.
    "d27_takedown_reelect" -> { (s, dir) =>
      import s.implicits._
      val mut = persist(mutCorpus(s, dir)) // signatures + quality + id sets
      Dedup.takedownReelect(mut, mut.filter($"doc_id" % 37 === 5).select($"doc_id"),
          "text", "doc_id",
          size(array_distinct(TextAnalysis.tokens($"text"))).cast("long"),
          k = 16, bands = 4, n = 3, minEstSim = 0.5)
        .orderBy("doc_id")
    },

    // Asymmetric containment ("is A quoted inside B?") over planted
    // excerpts — each doc's middle half re-added as a new doc: Jaccard
    // vs the original is only ~0.5, but containment(excerpt->original)
    // is ~1.0. Same posting equi-join + df-cap scale shape as d02/m05;
    // the statistic, not the plan, is what's new.
    "d17_containment" -> { (s, dir) =>
      Dedup.containmentPairs(subCorpus(s, dir), "text", "doc_id",
          n = 3, dfCap = 32, minContainment = 0.8)
        .orderBy("id_a", "id_b")
    },

    // "Fuzzy-exact" dedup: exact dedup of the NORMALIZED text
    // (lowercase, punctuation runs collapsed to one space) — catches
    // the case/punctuation variants byte-exact d01 misses. The noisy
    // corpus re-adds every doc uppercased with trailing punctuation;
    // normalization folds each pair back to one content group. Same
    // single-hash-aggregate scale shape as d01.
    "d16_normalized_dedup" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val noisy = docs.select($"doc_id", $"text").unionByName(
        docs.select(($"doc_id" + 100000).as("doc_id"),
          concat(upper($"text"), lit(" !!")).as("text")))
      Dedup.exactDuplicates(
          noisy.select($"doc_id",
            TextAnalysis.normalizedText($"text").as("text")),
          "text", "doc_id")
        .orderBy("content_md5")
    },

    "d05_simhash" -> { (s, dir) =>
      Dedup.withSimhash(s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
        .orderBy("id")
    },

    // 64-bit SimHash near-dup pairs in 4 x 16-bit bands — the scale
    // variant of d06: 65536 buckets per band instead of 256, so bucket
    // populations (and the band self-join) stay bounded as the corpus
    // grows (see Dedup.simhash64NearPairs).
    "d12_simhash64_pairs" -> { (s, dir) =>
      // spread: same simhash-kernel repair as d06
      Dedup.simhash64NearPairs(graft.operators.Par.spread(mutCorpus(s, dir)),
          "text", "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b")
    },

    // Long-span substring dedup (Lee et al. 2021): pairs sharing an
    // exact 8-token window, with the longest consecutive shared span
    // recovered per (pair, diagonal) — the planted 80%-prefix copies
    // surface as near-full-document spans.
    "d13_long_spans" -> { (s, dir) =>
      Dedup.longSpanPairs(mutCorpus(s, dir), "text", "doc_id",
          windowTokens = 8, dfCap = 1000)
        .orderBy("id_a", "id_b")
    },

    // EXACT-SUBSTRING CUT LIST (Lee et al. 2021's removal artifact):
    // per document, the maximal token ranges covered by 8-token
    // windows occurring in >= 2 DISTINCT documents — the edit list the
    // dedup pass applies, where d13 reports who-shares-with-whom and
    // t43 how-much. No pair join anywhere: postings aggregate to
    // distinct-doc counts and semi-join back; span merging is
    // gaps-and-islands per doc. The planted 80%-prefix mutants
    // guarantee near-full-prefix spans on both members of each pair.
    "d21_dup_spans" -> { (s, dir) =>
      Dedup.dupSpans(mutCorpus(s, dir), "text", "doc_id",
          windowTokens = 8)
        .orderBy("doc_id", "span_start")
    },

    // Incremental near-dup: the mutated shard (every doc re-arriving
    // under id+100000 with 80% of its tokens) probed against the
    // build-once MinHash signature index of the existing corpus —
    // the per-increment half of a daily dedup pipeline (the index is
    // a maintained asset; only the shard computes signatures).
    "d09_incremental_neardup" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val toks = TextAnalysis.tokens($"text")
      val newShard = docs.select(($"doc_id" + 100000).as("doc_id"),
        array_join(
          slice(toks, lit(1), greatest(floor(size(toks) * 0.8).cast("int"), lit(1))),
          " ").as("text"))
      Dedup.probeVerdicts(newShard, "text", "doc_id",
          Dedup.ensureSignatureIndex(s, dir))
        .orderBy("doc_id")
    },

    // Benchmark decontamination: the deterministic hash split carves
    // train/test from the corpus; every train document is scored by the
    // distinct 3-gram shingles it shares with the test set — the
    // n-gram-overlap pass run before any training job. The "eval" here
    // is the corpus's own 1-in-10 split, i.e. O(corpus) at scale — so
    // evalIsBenchmarkSized=false: no forced broadcast (AQE still picks
    // a broadcast join at this scale; at 100 TB it degrades to a
    // shuffled hash join instead of a driver OOM).
    "d10_decontaminate" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("split", Mixture.splitColumn($"doc_id"))
      Dedup.contamination(
          docs.filter($"split" === "train"),
          docs.filter($"split" === "test"),
          "text", "doc_id", evalIsBenchmarkSized = false)
        .orderBy("doc_id")
    },

    // LEAKAGE-SAFE SPLIT — the decontaminated train/test carve run
    // before any training job (the d10 n-gram overlap check turned
    // into an ACTION): t08's deterministic hash split assigns every
    // doc, d04's MinHash-LSH candidate generator finds near-dup pairs,
    // and any candidate pair crossing the train↔test boundary evicts
    // its TRAIN side (candidate-level eviction — deliberately
    // conservative: a leak suspect costs one training doc, a missed
    // leak costs benchmark integrity). The mutCorpus twins plant real
    // leaks: a doc and its 80%-mutant hash into independent splits, so
    // ~2·P(train)·P(test) of the planted pairs cross. Same banded
    // posting shapes as d04 — nothing new shuffles; the verdict join
    // is id-keyed.
    "t54_leakage_safe_split" -> { (s, dir) =>
      import s.implicits._
      val pinned = persist(mutCorpus(s, dir)) // cand gen + split
      val sp = pinned.select($"doc_id",
        Mixture.splitColumn($"doc_id").as("split"))
      val leaked = Dedup.lshCandidatePairs(pinned, "text", "doc_id", 16, 4, 3)
        .join(sp.select($"doc_id".as("id_a"), $"split".as("sp_a")), "id_a")
        .join(sp.select($"doc_id".as("id_b"), $"split".as("sp_b")), "id_b")
        .filter(($"sp_a" === "train" && $"sp_b" === "test") ||
          ($"sp_a" === "test" && $"sp_b" === "train"))
        .select(when($"sp_a" === "train", $"id_a").otherwise($"id_b")
          .as("doc_id"))
        .distinct()
        .withColumn("leaked", lit(true))
      sp.join(leaked, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"split",
          coalesce($"leaked", lit(false)).as("leaked"),
          ($"split" =!= "train" || !coalesce($"leaked", lit(false)))
            .as("kept"))
        .orderBy("doc_id")
    },

    // RENDEZVOUS (HRW) SHARD ASSIGNMENT — the incremental re-sharding
    // primitive of a 100 TB store: shard(d) = argmax_s of the
    // double-applied portable-family weight (ties → lowest s), and
    // when the shard count grows 8 → 9 a doc either keeps its shard
    // or moves to the NEW one (the HRW minimal-movement theorem) —
    // expected movement n/9 instead of a full reshuffle. One explode
    // generator + two bounded argmax aggregates over the same frame;
    // never a join. The oracle replays the exact integer weights and
    // both argmaxes.
    "t55_rendezvous_shards" -> { (s, dir) =>
      import s.implicits._
      Mixture.rendezvousShards(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", k = 8, k2 = 9)
        .orderBy("doc_id")
    },

    // SHARD-RESIZE SHIPMENT LIST — t55's readout turned into the
    // operator a 100 TB resize actually runs: emit ONLY the docs the
    // HRW theorem moves (to a NEW shard, always), leave the other
    // ~k/k2 of the store untouched. Map-only plan — one scan, two
    // per-row argmax column expressions, one filter; zero shuffles,
    // zero joins. The oracle replays the exact integer weights and
    // keeps the movers.
    "t56_shard_rebalance" -> { (s, dir) =>
      Mixture.rendezvousRebalance(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", k = 8, k2 = 9)
        .orderBy("doc_id")
    },

    // BLOOM-GATED DECONTAMINATION — d10's verdicts through the
    // at-100-TB plan: the test set's distinct shingles fold into a
    // KB-sized Bloom bitset (q61's runtime-filter machinery), every
    // train shingle probes the broadcast bitset as a pure projection,
    // and only Bloom-POSITIVE shingles reach the exact join (false
    // positives die there; false negatives are impossible, so the
    // output equals d10 row for row and d10's oracle verifies this
    // plan variant verbatim). At 10% FP load the exact join reads
    // ~1/10 of the train shingle stream — the difference between
    // shuffling the corpus and shuffling its contaminated sliver.
    "d25_bloom_decontaminate" -> { (s, dir) =>
      import s.implicits._
      val (m, kh) = (65536, 3)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("split", Mixture.splitColumn($"doc_id"))
      val train = docs.filter($"split" === "train")
      val test = docs.filter($"split" === "test")
      val evalSh = persist(
        Dedup.shingles(test, "text", "doc_id", n = 3)
          .select($"sh").distinct()) // bloom build + exact confirm
      val words = evalSh.as[Long].groupByKey(_ => 0)
        .agg(new graft.functions.BloomAgg(m, kh).toColumn.name("bloom"))
        .map(_._2).collect().headOption
        .getOrElse(new Array[Long](m / 64))
      val w = lit(words)
      // probe hashes via the SHARED Column spelling of
      // PortableHash.family (PortableHashSpec pins Column == Scala over
      // sample keys) — an inline re-spelling here could silently
      // desynchronize from BloomAgg's build side and lose rows
      val probed = (0 until kh).foldLeft(
          Dedup.shingles(train, "text", "doc_id", n = 3)) { (df, i) =>
        df.withColumn(s"p$i", Mixture.portableHash($"sh", i, m))
      }
      val mightContain = (0 until kh).map { i =>
        element_at(w, ($"p$i" / 64).cast("int") + 1)
          .bitwiseAND(expr(s"shiftleft(1L, cast(p$i % 64 as int))")) =!= 0
      }.reduce(_ && _)
      val hits = probed.filter(mightContain)
        .join(evalSh, Seq("sh"))
        .groupBy($"id").agg(count(lit(1)).as("n_shared"))
      train.select($"doc_id".cast("long").as("doc_id"))
        .join(hits, $"doc_id" === $"id", "left")
        .select($"doc_id", coalesce($"n_shared", lit(0L)).as("n_shared"),
          $"n_shared".isNotNull.as("is_contaminated"))
        .orderBy("doc_id")
    },

    // Line-level boilerplate stats over the mutated corpus (each doc's
    // 80%-prefix twin plants genuinely repeated 10-token "lines"):
    // per-doc duplicated-line ratio, the C4-style repeated-segment
    // filter signal.
    "t12_line_dedup" -> { (s, dir) =>
      Dedup.lineDupStats(mutCorpus(s, dir), "text", "doc_id")
        .orderBy("doc_id")
    },

    "d06_simhash_pairs" -> { (s, dir) =>
      // spread: the 64-hash simhash kernel dominates this row and ran
      // in the fixture scan's 2 tasks (measured 3.6 -> 1.3 s wall;
      // guarded identity on a wide production scan)
      Dedup.simhashNearPairs(graft.operators.Par.spread(mutCorpus(s, dir)),
          "text", "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b")
    },

    "d07_embedding_neardup" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val base = emb.select($"vec_id".cast("long").as("id"), $"embedding".as("vec"))
      // exact-scale copies (x2 is exact in both float and double)
      val scaled = emb.select(($"vec_id" + 100000L).as("id"),
        transform($"embedding", x => x * lit(2.0f)).as("vec"))
      // norms computed once per vector before the join (cosine factors
      // as dot/(norm_x*norm_y) — same arithmetic, 3x fewer folds/pair)
      val u = base.unionByName(scaled)
        .withColumn("block", expr("(id % 100000) div 50"))
        .withColumn("nrm", Similarity.norm($"vec"))
      u.as("x").join(u.as("y"),
          col("x.block") === col("y.block") && col("x.id") < col("y.id"))
        .withColumn("cos",
          Similarity.dot(col("x.vec"), col("y.vec")) / (col("x.nrm") * col("y.nrm")))
        .filter($"cos" >= 0.95)
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
          round($"cos", 6).as("cos_sim"))
        .orderBy("id_a", "id_b")
    },

    // --- similarity search ---
    "s01_knn_bruteforce" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 5), k = 5)
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    "s04_ivf_topk" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.annTopK(emb, emb.filter($"vec_id" < 5), k = 5,
          AnnSpec(Ivf(nlist = 32, nprobe = 4), Raw))
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    // Product-quantization ADC top-k (m=8 subspaces x 32 codewords over
    // d=64): the compressed-scan ANN path — codes are 8 ints per vector
    // (a 32x narrower scan than raw floats), search is one code-table
    // scan against broadcast per-query LUTs. Deterministic lowest-id
    // codebook, so the oracle replays the exact encoding.
    "s12_pq_topk" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.annTopK(emb, emb.filter($"vec_id" < 5), k = 5,
          AnnSpec(Flat, Pq(m = 8, ncode = 32)))
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"adc_d2")
        .orderBy("q_id", "rnk")
    },

    // The production PQ shape: search against the BUILD-ONCE code asset
    // (ensurePqIndex — fingerprint-guarded like d09's signature index)
    // instead of re-encoding the corpus per query. Same math as s12, so
    // s12's oracle checks this verbatim; only the ncode codebook rows
    // are read from the raw embeddings at query time.
    "s13_pq_index_probe" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val codes = Similarity.ensurePqIndex(s, dir, m = 8, ncode = 32)
      Similarity.annTopK(emb, emb.filter($"vec_id" < 5), k = 5,
          AnnSpec(Flat, Pq(m = 8, ncode = 32, codes = Some(codes))))
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"adc_d2")
        .orderBy("q_id", "rnk")
    },

    // THE production ANN query: IVF coarse pruning composed with PQ/ADC
    // over the build-once code asset — the s04 centroid lists decide
    // WHICH codes scan (one equi-join on the list id), the s12 codes
    // decide what each scan costs (8 ints per vector). No residual
    // encoding: ADC values are identical to s12's for probed neighbors,
    // so the oracle replays both halves independently and composes them.
    "s15_ivf_pq_topk" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val codes = Similarity.ensurePqIndex(s, dir, m = 8, ncode = 32)
      Similarity.annTopK(emb, emb.filter($"vec_id" < 5), k = 5,
          AnnSpec(Ivf(nlist = 32, nprobe = 4), Pq(m = 8, ncode = 32, codes = Some(codes))))
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"adc_d2")
        .orderBy("q_id", "rnk")
    },

    // FILTERED ANN — s15's composed plan with a metadata predicate
    // gating the candidate set (the production "one shared index,
    // per-query filters" shape): the label semi-join prunes the code
    // table BEFORE the ADC fold, so filtered queries scan less, not
    // more. Everything else (coarse probe, broadcast LUTs, list-id
    // equi-join) is byte-identical to s15.
    "s20_filtered_ann" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val allowed = emb.filter($"label" <= 2)
        .select($"vec_id".cast("long").as("n_id"))
      val codes = Similarity.ensurePqIndex(s, dir, m = 8, ncode = 32)
        .join(allowed, "n_id")
      Similarity.annTopK(emb, emb.filter($"vec_id" < 5), k = 5,
          AnnSpec(Ivf(nlist = 32, nprobe = 4), Pq(m = 8, ncode = 32, codes = Some(codes))))
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"adc_d2")
        .orderBy("q_id", "rnk")
    },

    // BINARY-QUANTIZATION ANN — the third compressed candidate
    // generator beside PQ (s12) and IVF (s04), and the cheapest: one
    // sign-bit long per vector (32x narrower than the float scan),
    // Hamming = xor+popcount against the broadcast query signatures,
    // top-40 candidates per query (WindowGroupLimit keeps the rank
    // partial), then an exact-cosine rerank of only those 200 vectors.
    "s21_binary_rerank" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.binaryRerankTopK(emb, emb.filter($"vec_id" < 5), k = 5, cand = 40)
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"),
          $"hamming", $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    // SCALAR-QUANTIZED (int8) ANN — s11's per-vector symmetric codes
    // as the candidate representation (1 byte/dim, 4x narrower scan),
    // candidates ranked by the exact INTEGER code dot product, then
    // s21's broadcast-candidate exact rerank. The integer candidate
    // score makes the approximate stage itself oracle-exact.
    "s25_sq8_rerank" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.sq8RerankTopK(emb, emb.filter($"vec_id" < 5), k = 5, cand = 40)
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"),
          $"idot", $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    // MIPS — top-k by raw INNER PRODUCT (the recommendation-retrieval
    // metric; ranks differently from cosine on unnormalized vectors).
    // s25's two-stage shape: integer-dot candidates, exact dot rerank.
    "s26_mips_topk" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.mipsTopK(emb, emb.filter($"vec_id" < 5), k = 5, cand = 40)
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"),
          $"idot", $"ip")
        .orderBy("q_id", "rnk")
    },

    // K-MEANS AS A FIRST-CLASS OPERATOR readout — the clustering
    // itself (not a search built on it): fixed-point trained centroids
    // (s23's trainer), one broadcast-assignment scan of the corpus,
    // and per-cluster (size, Σ qv·cent) where the summed integer dots
    // are the spherical k-means objective — exact bigints, so the
    // oracle replays training, assignment, AND objective bit-for-bit.
    // The training-quality readout a pipeline monitors (lopsided
    // sizes / collapsing objective = retrain signal).
    "s27_kmeans_train" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val trained = Similarity.ivfTrainCentroidsFp(emb, nlist = 32)
      val cent = broadcast(trained.toSeq
        .map { case (cid, cv) => (cid, cv.toSeq) }.toDF("c_id", "c_vec"))
      // partial-aggregatable max-struct argmax (cos DESC, c_id ASC via
      // the negated id) — not a 32x-corpus window shuffle; same tie
      // rule the oracle's row_number spells
      emb.select($"vec_id".cast("long").as("n_id"),
          transform($"embedding",
            x => floor(x.cast("double") * 512).cast("long")).as("qv"),
          $"embedding")
        .crossJoin(cent)
        .withColumn("cos_c", Similarity.cosine($"embedding", $"c_vec"))
        .groupBy($"n_id")
        .agg(max(struct($"cos_c", (-$"c_id").as("neg_c"), $"c_id", $"qv",
          $"c_vec")).as("b"))
        .select($"n_id", $"b.c_id".as("c_id"),
          aggregate(
            zip_with($"b.qv", transform($"b.c_vec", x => x.cast("long")),
              (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("dot"))
        .groupBy($"c_id")
        .agg(count(lit(1)).as("n_members"), sum($"dot").as("dot_sum"))
        .orderBy($"c_id")
    },

    // MULTI-VECTOR LATE INTERACTION (ColBERT-style MaxSim): the
    // embedding is read as 4 token-vectors of 16 dims and
    // score(q, d) = Σ_i max_j cos(q_i, d_j) — fine-grained
    // term-to-term matching a single pooled cosine flattens. Two-stage
    // like s21/s22: the full-vector cosine picks top-40 candidates
    // (s01's sanctioned broadcast shape), then ONLY candidates pay the
    // 4x4 sub-vector MaxSim — at corpus scale the rerank is a
    // broadcast-candidate equi-join, never an all-pairs MaxSim. All
    // scores are the proven sequential-fold cosines, replayed
    // termwise by the oracle.
    "s28_maxsim_rerank" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val e = emb.select($"vec_id".cast("long").as("n_id"),
        transform($"embedding", x => x.cast("double")).as("v"))
      val q = broadcast(e.filter($"n_id" < 5)
        .select($"n_id".as("q_id"), $"v".as("q_vec")))
      val wc = Window.partitionBy($"q_id")
        .orderBy($"cos".desc, $"n_id".asc)
      val cand = e.join(q, $"n_id" =!= $"q_id")
        .withColumn("cos", Similarity.cosine($"q_vec", $"v"))
        .withColumn("crnk", row_number().over(wc))
        .filter($"crnk" <= 40)
      def sub(vec: org.apache.spark.sql.Column, i: Int) =
        slice(vec, i * 16 + 1, 16)
      val maxsim = (0 until 4).map { i =>
        greatest((0 until 4).map { j =>
          Similarity.cosine(sub($"q_vec", i), sub($"v", j))
        }: _*)
      }.reduce(_ + _)
      val wk = Window.partitionBy($"q_id")
        .orderBy($"maxsim".desc, $"n_id".asc)
      cand.withColumn("maxsim", maxsim)
        .withColumn("rnk", row_number().over(wk).cast("long"))
        .filter($"rnk" <= 5)
        .select($"q_id", $"n_id", $"rnk", round($"maxsim", 6).as("maxsim"),
          round($"cos", 6).as("cos_sim"))
        .orderBy("q_id", "rnk")
    },

    // IVF RECALL-vs-NPROBE CURVE as an oracle row — t40's
    // "evaluation is itself a query" move applied to ANN: measured
    // recall@10 of s04's deterministic IVF at nprobe ∈ {2, 4, 8}
    // against the exact cosine top-10, every number engine-portable
    // (hit counts are integer joins of two deterministic top-k sets).
    // THE tuning table an ANN deployment reads before picking its
    // latency/recall point.
    "s29_ivf_recall_curve" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter($"vec_id" < 5)
      val k = 10
      val exact = persist(
        Similarity.bruteForceTopK(emb, queries, k)
          .select($"q_id", $"n_id")) // joined by all 3 arms
      val nq = queries.count() // bounded: 5 by construction
      Seq(2, 4, 8).map { np =>
        Similarity.annTopK(emb, queries, k, AnnSpec(Ivf(nlist = 32, nprobe = np), Raw))
          .select($"q_id", $"n_id")
          .join(exact, Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(np.toLong).as("nprobe"), lit(k.toLong).as("k"),
            lit(nq).as("n_queries"), $"n_hits",
            round($"n_hits".cast("double") / (nq * k), 6).as("recall"))
      }.reduce(_ unionByName _).orderBy($"nprobe")
    },

    // MULTI-PROBE (soft-assignment) TRAINED IVF — the round-12 recall
    // ceiling breaker: every corpus vector indexed into its 2 nearest
    // trained lists, so cell-boundary neighbors are reachable from
    // both adjacent cells. Measured (AnnRecallSpec, 50 queries,
    // sf0.01): recall@10 0.698 vs 0.514 hard-assigned at the same
    // nlist, and the constant-scan-budget table shows the finer
    // quantizer (nlist=128, nprobe=16, same 1/8 scanned fraction)
    // reaching 0.714 — the coverage ceiling moves with list geometry,
    // not Lloyd quality. Oracle replays training, soft routing,
    // probing, pair dedup, and exact ranking end to end.
    "s31_ivf_multiprobe" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.annTopK(emb, emb.filter($"vec_id" < 5), k = 5,
          AnnSpec(Ivf(nlist = 32, nprobe = 4, assign = 2), Raw, TrainedFp))
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    // BIG-BIG k-NN GRAPH, CORPUS-SCALED (the registered production
    // config — round-13 verdict item 1): every vector's top-5 neighbors
    // via the IVF-partitioned block join with EVERY corpus-dependent
    // knob derived from the corpus itself — nlist = max(32, ceil(n/64))
    // keeps cell populations (the candidate join's per-item fan-in)
    // constant, and the two-level ceil(√nlist)-super routing keeps the
    // routing scan O(n·√nlist) instead of the flat O(n·nlist), which is
    // quadratic once nlist ∝ n (BENCH_scale100_r13 measured the old
    // fixed-nlist registration's marginal s/copy rising 0.93 → 1.78).
    // Both sides shuffle-equi-join on the cell id, bounded top-k
    // aggregator merge — never all-pairs, nothing data-sized broadcast.
    // The oracle derives the same geometry from count(*) and replays
    // training (hash-seeded fixed-point Lloyd), both routing levels,
    // probing, and exact ranking end to end at ANY scale factor.
    "s30_knn_graph" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.knnGraphScaledFp(emb, k = 5, targetList = 64,
          nprobe = 4, superProbe = 3)
        .select($"q_id", $"n_id", $"rnk", $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    // PQ-COMPRESSED k-NN GRAPH, CORPUS-SCALED — s30's scaled block join
    // at ADC cost: derived nlist/two-level routing (the round-13 scale
    // fix) + the m=8 codeword candidate shuffle, exact-integer codegen
    // ADC (functions.AdcFp), and the ADC top-40 exact-integer rerank
    // (s24's centroid-cancellation move). The shape that builds the
    // semantic-dedup graph at 100 TB — constant cell population AND
    // ~1/8 the candidate-join bytes. Oracle: count → geometry,
    // hash-seed training, both routing levels, residual codebook,
    // encoding, ADC, and rerank, hash-checked for EVERY vector.
    "s38_pq_knn_graph" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.pqKnnGraphScaledFp(emb, k = 5, targetList = 64,
          nprobe = 4, superProbe = 3, m = 8, ncode = 32, cBudget = 40)
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"),
          $"adc_fp", $"d2_fp")
        .orderBy("q_id", "rnk")
    },

    // TWO-LEVEL-ROUTED k-NN GRAPH — the IVF-tree fix for the one term
    // of s30 that grows under nlist ∝ corpus: rows pick the best of
    // √nlist-ish SUPER-centroids (a k-center pass over the trained
    // centroid table, exact-integer dots) and rank only that super
    // cell's centroids — O(n·(superList + nlist/superList)) routing
    // instead of O(n·nlist). Everything after the probes is s30's
    // block join verbatim. Knn2LevelSpec pins superList=1 ≡ the flat
    // graph row-for-row and holds the recall floor at this config;
    // the oracle replays training, super seeding, both assignment
    // levels, probing, and exact ranking end to end.
    "s39_knn_graph_2level" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfKnnGraphTrainedFp2L(emb, k = 5, nlist = 32, nprobe = 4,
          superList = 6)
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    // ROUTING-FRONTIER EVALUATION — the recall-per-candidate table the
    // s39 tradeoff is tuned by (the s29/s36 move for the graph-build
    // family): for BOTH routings (flat top-4 lists; two-level with
    // superProbe=3) the exact candidate-pair count and the graph's
    // recall against brute-force truth, as one oracle row per arm.
    // Candidate counts come from the same window-rank routing the
    // oracle spells (proven ≡ the bounded-aggregator probes by
    // KnnGraphSpec); hit counts come from the registered operators.
    "s40_routing_frontier" -> { (s, dir) =>
      routingFrontierQuery(s, dir, nlist = 32, superList = 6, qMod = 0L)
    },

    // PQ-GRAPH RECALL EVALUATION — the s29/s36 move applied to the
    // compressed graph (round-13 verdict item 3): recall@5 of the
    // registered s38 build (cBudget=40) against brute-force truth,
    // plus the one lever that prices the rerank budget (cBudget=80 at
    // the same codes/routing). Integer hit-count joins of
    // deterministic top-k sets; one double division per arm. The
    // truth arm is the sanctioned s01 exact scan, HASH-SAMPLED to a
    // ~500-query budget derived from the corpus count (qMod = 0) —
    // full truth at the n <= 500 correctness sf, constant eval cost
    // at bench sf and every ladder rung.
    "s41_pq_graph_recall" -> { (s, dir) =>
      pqGraphRecallQuery(s, dir, qMod = 0L)
    },

    // INCREMENTAL k-NN GRAPH MAINTENANCE — the d09/st44 build-once/
    // probe-incrementally discipline applied to the s30 graph asset
    // (round-13 verdict item 5): quantizer and geometry FROZEN on the
    // base corpus (vec_id % 10 <> 7), the arriving 10% shard routes
    // through the frozen tables, computes its own top-k, and
    // MERGE-upserts candidate edges into the stored base top-k. The
    // engine runs the incremental dataflow; the ORACLE replays the
    // batch rebuild over the same frozen quantizer — hash-green means
    // incremental == rebuild exactly (GraphUpsertSpec pins the same
    // equality engine-side).
    "d26_graph_upsert" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.knnGraphIncrementalFp(
          emb.filter($"vec_id" % 10 =!= 7), emb.filter($"vec_id" % 10 === 7),
          k = 5, targetList = 64, nprobe = 4, superProbe = 3)
        .select($"q_id", $"n_id", $"rnk", $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    // TOMBSTONE-AWARE GRAPH MAINTENANCE — d26's delete half: a
    // takedown batch (GDPR erasure / contaminated-source purge — every
    // tenth vector here) folds into the frozen graph asset without a
    // rebuild. Deleted queries' rows drop; survivors holding a deleted
    // neighbor re-rank their probed cells over surviving assignments
    // only; everyone else keeps stored edges verbatim (exact — their
    // top-k all survive). The engine runs the incremental dataflow;
    // the ORACLE replays the batch rebuild over survivors under the
    // same frozen full-corpus quantizer — hash-green means
    // delete-incremental == rebuild exactly.
    "s42_graph_tombstone" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.knnGraphTombstoneFp(emb,
          emb.filter($"vec_id" % 10 === 3).select($"vec_id"),
          k = 5, targetList = 64, nprobe = 4, superProbe = 3)
        .select($"q_id", $"n_id", $"rnk", $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    // SERVING THE UPSERT-MAINTAINED ASSET — s43's mirror on the
    // upsert side: the beam search walks the graph that d26's
    // incremental merge-upsert MAINTAINS (frozen base-trained
    // quantizer, %10==7 arrivals folded in) — never a rebuilt one —
    // and must return exactly what serving the batch-rebuilt asset
    // would. The LSM read contract of a living vector index: the
    // query path composes the asset with its maintenance stream's
    // folded output. Oracle = the beam replay over the
    // frozen-quantizer (trainFilter) build.
    "s44_graph_serve_upserted" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      // the maintained graph is a STORED generation (the LSM read
      // contract taken literally): first touch folds the maintenance
      // stream once, every serve after that reads the asset back
      val graph = persist(Similarity.ensureUpsertedKnnIndex(s, dir))
      Similarity.graphBeamSearchOver(graph, emb, emb.filter($"vec_id" < 5),
          k = 5, beam = 16, rounds = 3, seedMod = 64)
        .orderBy("q_id", "rnk")
    },

    // TOMBSTONE-MASKED SERVING — the third leg of the takedown story
    // (st54 logs intents, s42 compacts, THIS serves correctly in
    // between): the beam search runs over the UNCHANGED graph asset
    // but tombstoned ids are masked from the scoring table — they
    // cannot seed, cannot occupy a beam slot a live result could use,
    // cannot be returned — so takedowns are honored immediately, at
    // zero build cost, until the compactor catches up. Engine-side
    // the mask is just the survivor corpus as graphBeamSearchOver's
    // scoring table; the oracle replays the full-corpus build and the
    // masked walk.
    "s43_tombstone_serving" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      // the UNCHANGED asset is the stored one (identical build:
      // ensureKnnGraphIndex IS knnEdgesScaled over the corpus) — a
      // takedown between compactions never pays an index build
      val graph = persist(
        Similarity.ensureKnnGraphIndex(s, dir, graphK = 10,
          targetList = 64, nprobe = 4, superProbe = 3))
      Similarity.graphBeamSearchOver(graph, emb.filter($"vec_id" % 10 =!= 3),
          emb.filter($"vec_id" < 5), k = 5, beam = 16, rounds = 3,
          seedMod = 64)
        .orderBy("q_id", "rnk")
    },

    // ASSET MANIFEST — the lifecycle metadata row: build the ranked
    // graph asset (generation 0), fold the %10==3 takedown batch
    // through the compactor (generation 1, published next to the base
    // and recorded with its batch size), then read the MANIFEST back —
    // each generation's recorded row count, the actual stored table's
    // count (n_rows_read — the engine re-reads what the manifest
    // points at), and the serving flag (highest generation). The
    // oracle recomputes both generations from scratch, so hash-green
    // proves manifest metadata == stored reality == recomputed truth.
    "s45_asset_manifest" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ensureRankedKnnIndex(s, dir)
      Similarity.compactRankedKnnIndex(s, dir,
        emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
      Similarity.compactUpsertKnnIndex(s, dir) // gen 2: the WAL flush
      Similarity.rankedAssetManifest(s, dir).orderBy("generation")
    },

    // ROUTED SCATTER-GATHER, the fully-distributed batch twin of st64
    // (every streaming serving row has one: s35↔st50, s43↔st59):
    // broadcast-summary router, left-semi scatter to the top-2 shard
    // walk arms over the STORED per-shard assets, exact top-k merge.
    // No data-sized driver structure anywhere in the plan.
    "s47_scatter_gather_batch" -> { (s, dir) =>
      import s.implicits._
      val qs = s.read.parquet(s"$dir/embeddings.parquet")
        .filter($"vec_id" < 5)
        .select($"vec_id".cast("long").as("vec_id"), $"embedding")
      graft.operators.Similarity.scatterGatherTopK(s, dir, qs,
          nShards = 4, probeShards = 2)
        .orderBy("q_id", "rnk")
    },

    // SCATTER-BREADTH RECALL FRONTIER — the eval row completing the
    // scatter-gather family (s36's role for s35): how much recall the
    // navigation-routed scatter buys at m = 1, 2, 4 of 4 shards vs
    // exact brute-force truth. Integer hit-count joins, one double
    // division per arm.
    "s48_scatter_recall" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter($"vec_id" < 5)
        .select($"vec_id".cast("long").as("vec_id"), $"embedding")
      val k = 5
      // joined by all three arms
      val truth = persist(Similarity.bruteForceTopK(emb, queries, k)
        .select($"q_id".cast("long").as("q_id"), $"n_id".cast("long").as("n_id")))
      val nq = queries.count() // bounded: 5 by construction
      // ONE scatter over all 4 shards; each breadth's merge is the
      // srn <= m prefix of the same partials (provably identical to
      // running the breadth-m scatter — routing ranks don't depend
      // on m, walks are per (query, shard) independent)
      val partials = persist(Similarity.scatterGatherPartials(s, dir,
        queries, nShards = 4, maxBreadth = 4, k = k))
      Seq(1, 2, 4).map { m =>
        Similarity.scatterGatherMerge(partials, k, m)
          .select($"q_id", $"n_id")
          .join(truth, Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(m.toLong).as("probe_shards"), lit(k.toLong).as("k"),
            lit(nq).as("n_queries"), $"n_hits",
            round($"n_hits".cast("double") / (nq * k), 6).as("recall"))
      }.reduce(_ unionByName _).orderBy($"probe_shards")
    },

    // UPSERT APPLICATION (the WAL flush) — the write half of the s42
    // lifecycle: st53's intent log folds into the stored generation-0
    // ranked graph and publishes as generation 2 (manifest records
    // n_upserts; idempotent per intent-set signature). Arriving ids
    // adopt their new_topk rows, base queries holding admitted
    // candidates re-rank stored ∪ candidates by (cos DESC, id ASC),
    // everyone else keeps stored edges verbatim — the serving tier's
    // state BETWEEN nightly rebuilds (exact rounded ties and
    // arriving↔arriving edges wait for the d26 batch merge, st53's
    // documented contract). The oracle replays the frozen build,
    // every intent, and the application.
    "s49_upsert_compaction" -> { (s, dir) =>
      Similarity.compactUpsertKnnIndex(s, dir).orderBy("q_id", "rnk")
    },

    // GENERATION-ROUTED SERVING — the READ half of s49's WAL flush,
    // closing the lifecycle loop: st53 logs intents, s49 folds them
    // and publishes generation 2, and THIS row's query tier asks the
    // MANIFEST which generation serves ([[Similarity
    // .servingRankedKnnIndex]] — never a hardcoded asset name), reads
    // that stored parquet back, and beam-walks it. The walk's
    // navigation structure is the applied top-5 graph (undirected);
    // scoring covers base ∪ arrivals (the gen-2 node set) so arriving
    // vectors are findable the moment the flush publishes. The oracle
    // replays frozen build + every intent + the application + the
    // walk from scratch — hash-green proves manifest → stored table →
    // serving composes end-to-end.
    "s50_generation_serving" -> { (s, dir) =>
      Similarity.generationRoutedServing(s, dir).orderBy("q_id", "rnk")
    },

    // TAKEDOWN-MASKED SERVING OF THE ROUTED GENERATION — s43's mask
    // composed with s50's read path: a takedown batch (every tenth
    // document, s42's convention) arrives AFTER the WAL flush
    // published generation 2, and serving honors it immediately at
    // zero build cost — the manifest-routed stored asset is walked
    // UNCHANGED, but masked ids (the notices' documents AND their
    // re-uploaded arrivals, which carry the same content) cannot
    // seed, hold a beam slot, or be returned. The lifecycle's two
    // maintenance streams compose at the query tier without touching
    // each other's assets; the oracle replays build + intents +
    // application + the masked walk.
    "s51_generation_masked_serving" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val del = emb.filter($"vec_id" % 10 === 3)
        .select($"vec_id".cast("long").as("vec_id"))
      val mask = del.unionByName(
        del.select(($"vec_id" + 100000L).as("vec_id")))
      Similarity.generationRoutedServing(s, dir, maskIds = Some(mask))
        .orderBy("q_id", "rnk")
    },

    // SHARD-FLEET MANIFEST — s45's audit applied to st58's per-shard
    // assets: ensure all four nightly shard indexes, read each one's
    // manifest back, and emit (recorded count, actual stored count,
    // serving generation) per shard. The oracle recomputes every
    // shard's undirected edge set from scratch, so hash-green proves
    // the FLEET's metadata == storage == recomputed truth.
    "s46_shard_manifest" -> { (s, dir) =>
      Similarity.shardAssetManifest(s, dir, nShards = 4)
        .orderBy("shard", "generation")
    },

    // MUTUAL-kNN SEMANTIC CLUSTERS — the composition s30 exists for:
    // keep an edge only when BOTH endpoints rank each other in their
    // top-k (the standard mutual-kNN graph — parameterless, and robust
    // to hubness because a hub's one-sided votes are discarded), then
    // label components with the forced DISTRIBUTED large-star/
    // small-star arm (driverMaxEdges = 0, q51's convention — the shape
    // a 100 TB semantic-clustering run needs). Everything upstream is
    // s30's block join; the mutual filter is one self-equi-join on the
    // (q_id, n_id) pair; the oracle replays the whole chain plus the
    // min-label recursive closure.
    "s32_knn_graph_components" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val knn = persist(
        Similarity.knnGraphScaledFp(emb, k = 5, targetList = 64,
            nprobe = 4, superProbe = 3)
          .select($"q_id", $"n_id")) // both sides of the mutual join
      val edges = knn.as("a").join(knn.as("b"),
          col("a.q_id") === col("b.n_id") && col("a.n_id") === col("b.q_id") &&
            col("a.q_id") < col("a.n_id"))
        .select(col("a.q_id").as("u"), col("a.n_id").as("v"))
      graft.operators.ConnectedComponents
        .assign(edges, emb.select($"vec_id"), driverMaxEdges = 0L)
        .select($"id".as("vec_id"), $"component")
        .orderBy("vec_id")
    },

    // MARGIN-BASED PAIR SCORING — the CCMatrix/LASER ratio-margin
    // criterion (Artetxe & Schwenk ACL'19; Schwenk et al. 2021) over
    // s30's big-big k-NN graph: a candidate pair is kept by how much
    // CLOSER the two vectors are than their OWN neighborhoods —
    // margin(x,y) = cos(x,y) / ((avgTopK(x) + avgTopK(y)) / 2) — the
    // standard mined-pair filter at corpus scale (an absolute cosine
    // gate misses hub vectors whose entire neighborhood is close and
    // over-keeps isolated ones). Arithmetic is exact-integer from the
    // 6-dp cosines (cos_fp = round(cos·1e6)): the per-vector
    // neighborhood sums are commutative bigint aggregates, the margin
    // is ONE double division of exact integers, and the keep gate
    // (margin >= 1.02) is cross-multiplied so it never compares
    // floats. Dataflow: the s30 graph once (persisted — the
    // stats aggregate and the pair join both read it), one k-bounded
    // aggregate, two equi-joins back on the vector id. Nothing
    // data-sized broadcasts; at 100 TB every stage keys on the vector
    // id and moves O(n·k) rows.
    "s34_margin_pairs" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      // stats aggregate + pair join both read it
      val knn = persist(
        Similarity.knnGraphScaledFp(emb, k = 5, targetList = 64,
            nprobe = 4, superProbe = 3)
          .withColumn("cos_fp", round($"cos_sim" * 1e6).cast("long")))
      val stats = knn.groupBy($"q_id").agg(
        sum($"cos_fp").as("s"), count(lit(1)).as("c"))
      val sx = stats.select($"q_id", $"s".as("s_q"), $"c".as("c_q"))
      val sy = stats.select($"q_id".as("n_id"), $"s".as("s_n"),
        $"c".as("c_n"))
      knn.join(sx, Seq("q_id")).join(sy, Seq("n_id"))
        .withColumn("num", lit(2L) * $"cos_fp" * $"c_q" * $"c_n")
        .withColumn("den", $"s_q" * $"c_n" + $"s_n" * $"c_q")
        .select($"q_id", $"n_id", $"rnk", $"cos_sim",
          when($"den" > 0L,
            round($"num".cast("double") / $"den".cast("double"), 6))
            .as("margin"),
          ($"den" > 0L && $"num" * 100L >= $"den" * 102L).as("keep"))
        .orderBy("q_id", "rnk")
    },

    // GRAPH-ROUTED ANN — DiskANN/HNSW-shaped beam search over the s30
    // kNN graph: hash-sampled navigation seeds (id % 64 — the flat
    // stand-in for HNSW's upper layer), three expand-score-prune
    // rounds walking UNDIRECTED degree-10 edges with a 16-wide beam,
    // exact cosine re-scoring at every step. The one ANN search shape
    // the quantization family doesn't cover: per-round cost is
    // O(beam·graphK) per query — independent of corpus size. Config
    // chosen by the GraphAnnProbe sweep (recall@5 0.868 at sf0.01/50
    // queries; reversed edges alone 0.376→0.600 at equal walk cost).
    // Fully deterministic (cos desc, id asc), so the oracle replays
    // graph construction (trained quantizer included) AND the search.
    // Since round 14 the BUILD arm is the corpus-scaled two-level path
    // (count-derived nlist, hash-seed training) — the serving walk is
    // unchanged, but the nightly graph build now carries the same
    // scale guarantee the s30 family does.
    "s35_graph_ann" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.graphBeamSearchScaled(emb, emb.filter($"vec_id" < 5), k = 5,
          beam = 16, rounds = 3, seedMod = 64, graphK = 10,
          undirected = true, targetList = 64, nprobe = 4, superProbe = 3)
        .orderBy("q_id", "rnk")
    },

    // GRAPH-ANN EVALUATION as an oracle row (s29's move applied to
    // s35): recall@5 of the routed beam search at rounds 0/1/2/3
    // against the exact brute-force truth, over ONE shared undirected
    // graph — the curve that shows the walk recovering what the thin
    // 1/64 entry slice misses (rounds=0 IS the entry slice alone).
    // Integer hit-count joins of deterministic top-k sets; one double
    // division per arm.
    "s36_graph_ann_recall" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter($"vec_id" < 5)
      val k = 5
      val truth = persist(Similarity.bruteForceTopK(emb, queries, k)
        .select($"q_id", $"n_id")) // joined by all 4 arms
      val graph = persist(Similarity.knnEdgesScaled(emb, graphK = 10,
          undirected = true, targetList = 64, nprobe = 4, superProbe = 3)) // walked by all 4 arms
      val nq = queries.count() // bounded: 5 by construction
      // ONE progressive walk snapshotted at rounds 0/1/2/3 (the beam
      // state after round r doesn't depend on later rounds), instead
      // of four independent walks re-running each other's prefixes
      val walked = Similarity.graphBeamSearchRoundsOver(graph, emb,
        queries, k = k, beam = 16, roundsWanted = Seq(0, 1, 2, 3),
        seedMod = 64).toMap
      Seq(0, 1, 2, 3).map { r =>
        walked(r)
          .select($"q_id", $"n_id")
          .join(truth, Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(r.toLong).as("rounds"), lit(k.toLong).as("k"),
            lit(nq).as("n_queries"), $"n_hits",
            round($"n_hits".cast("double") / (nq * k), 6).as("recall"))
      }.reduce(_ unionByName _).orderBy($"rounds")
    },

    // GRAPH-ANN over the BUILD-ONCE INDEX ASSET — s13/d09's
    // asset-lifecycle story applied to the graph family: the
    // undirected kNN graph is built once into a content-fingerprinted
    // parquet asset (the nightly index job at 100 TB) and the search
    // only READS it — no retraining on the query path. Must equal s35
    // row for row (same math, asset path vs inline build), so s35's
    // oracle checks this row verbatim.
    "s37_graph_index_probe" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val graph = persist(Similarity.ensureKnnGraphIndex(s, dir)) // 3 beam rounds
      Similarity.graphBeamSearchOver(graph, emb, emb.filter($"vec_id" < 5),
          k = 5, beam = 16, rounds = 3, seedMod = 64)
        .orderBy("q_id", "rnk")
    },

    // TERM DISPERSION ACROSS SOURCES — Gries' DP in exact-integer
    // form for the corpus's top-50 tokens: how unevenly a term
    // concentrates in particular sources (dp 0 = spread exactly like
    // the source sizes; → 1 = confined to one source) — the
    // corpus-linguistics diagnostic behind "this token is one
    // domain's boilerplate". |c_ts/c_t − s_s/S| summed over sources
    // becomes Σ|c_ts·S − s_s·c_t| / (2·c_t·S): the numerator is a
    // commutative BIGINT sum (order-free), absent sources close in
    // CLOSED FORM ((S − Σ_present s_s)·c_t — no token×source grid is
    // ever materialized), and ONE double division lands at readout.
    // Shuffles: one (source, tok) aggregate + bounded broadcasts.
    "t49_term_dispersion" -> { (s, dir) =>
      import s.implicits._
      // source sizes, token totals, and the dp join
      val tok = persist(
        s.read.parquet(s"$dir/documents.parquet")
          .select($"source", explode(TextAnalysis.tokens($"text")).as("tok"))
          .filter(length($"tok") > 0)
          .groupBy($"source", $"tok").agg(count(lit(1)).as("c")))
      val ssz = tok.groupBy($"source").agg(sum($"c").as("ssz"))
      val stot = ssz.agg(sum($"ssz").as("S"))
      val top = tok.groupBy($"tok").agg(sum($"c").as("ct"))
        .orderBy($"ct".desc, $"tok".asc).limit(50)
      tok.join(broadcast(top), "tok")
        .join(broadcast(ssz), "source")
        .crossJoin(broadcast(stot))
        .groupBy($"tok", $"ct", $"S")
        .agg(sum(abs($"c" * $"S" - $"ssz" * $"ct")).as("numPresent"),
          sum($"ssz").as("sPresent"))
        .select($"tok", $"ct",
          round(($"numPresent" + ($"S" - $"sPresent") * $"ct").cast("double")
            / (lit(2.0) * $"ct" * $"S"), 6).as("dp"))
        .orderBy($"ct".desc, $"tok".asc)
    },

    // JL RANDOM-PROJECTION ANN — the dimensionality-reduction arm the
    // quantization family lacks: a data-independent Achlioptas ±1
    // projection 64→16 (regenerated from indices — no stored matrix),
    // integer-exact projected L2 as the coarse order (no sqrt, no
    // float fold), exact full-dim cosine rerank of the top-40. Unlike
    // s22's matryoshka prefix it needs NO cooperation from the
    // embedding model, and unlike PQ it needs no training. One
    // map-only projection scan + the two-stage rerank engine.
    "s33_jl_topk" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.jlTopK(emb, emb.filter($"vec_id" < 5), k = 5,
          dims = 64, targetDims = 16, cand = 40)
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"),
          $"pre_d2", $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    // MATRYOSHKA PREFIX-DIM ANN — coarse cosine over the first 16 of
    // 64 components (a 4x narrower coarse scan; MRL embeddings order
    // information by prefix), top-40 candidates per query, exact
    // full-dim rerank. Same two-stage rerank engine as s21 with a
    // different (and composable) coarse scorer.
    "s22_matryoshka" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.matryoshkaTopK(emb, emb.filter($"vec_id" < 5), k = 5,
          prefixDims = 16, cand = 40)
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"),
          $"pre_cos", $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    // TRAINED-QUANTIZER IVF — s04's probed-list search with trained
    // spherical k-means centroids instead of the lowest-id convention.
    // The quantizer is the FIXED-POINT trainer (integer Lloyd rounds:
    // commutative sums, truncating renormalization — no order-pinned
    // float folds), so the full training is replayed verbatim by the
    // SQL oracle: this query is hash-checked end to end, training
    // included. AnnRecallSpec holds the recall floor vs the
    // deterministic quantizer.
    "s23_ivf_trained_topk" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.annTopK(emb, emb.filter($"vec_id" < 5), k = 5,
          AnnSpec(Ivf(nlist = 32, nprobe = 4), Raw, TrainedFp))
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"cos_sim")
        .orderBy("q_id", "rnk")
    },

    // FULLY-TRAINED residual IVF x PQ — the complete faiss-IVFPQ
    // training recipe (trained coarse quantizer + per-subspace Lloyd
    // residual codebook, both on deterministic hash-samples) over
    // s16's residual-ADC search dataflow, in FIXED POINT: integer
    // Lloyd rounds on ×2^12-quantized residuals, an exact integer
    // ADC, and an exact-integer rerank of the ADC top-8k (the
    // centroid cancels in qres_q - qres_n, so the rerank is scaled
    // exact L2 of q-n — recall@10 0.310 ADC-only vs 0.514 reranked
    // at sf0.01, the nprobe=4 coverage ceiling), so the oracle
    // replays training, encoding, probing,
    // scoring, AND the rerank bit-for-bit — hash-checked end to end
    // like s23. AnnRecallSpec holds the recall delta vs the
    // deterministic composition.
    "s24_ivf_pq_trained" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.annTopK(emb, emb.filter($"vec_id" < 5), k = 5,
          AnnSpec(Ivf(nlist = 32, nprobe = 4),
            PqResidual(m = 8, ncode = 32), TrainedFp))
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"adc_fp",
          $"d2_fp")
        .orderBy("q_id", "rnk")
    },

    // TRAINED BPE TOKENIZER — the "train the tokenizer" pipeline step,
    // on the codebook recipe: deterministic bounded sample -> capped
    // word-frequency table -> driver-local merge training with total
    // tie-breaks (bit-replayable, BpeSpec), then one distributed apply
    // scan with the KB-scale merge table broadcast. The oracle replays
    // the ENTIRE training loop in SQL (the s23/s24 end-to-end move):
    // a recursive CTE carries every word type's segmentation state one
    // merge step at a time (DuckDB's working-table semantics = the
    // trainer's iteration), the merge sequence is recovered per step by
    // the same weighted argmax/tie-break, and a second recursive CTE
    // replays the ranked greedy segmentation of every corpus word — so
    // the row is hash-checked end to end, training included. nMerges is
    // held below the corpus's merge saturation point so the learned
    // segmentation is genuinely partial (n_words < n_bpe < n_sym) and
    // the check is discriminative. compression is the raw IEEE division
    // (never round a float derived from exact integers).
    "t32_bpe_trained" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val merges = BpeTokenizer.trainMergesLocal(docs, "text", "doc_id",
        nMerges = 60, sampleN = 2048, maxWords = 4096)
      BpeTokenizer.tokenCounts(docs, merges, "text", "doc_id")
        .withColumn("compression",
          when($"n_bpe" > 0, $"n_sym".cast("double") / $"n_bpe"))
        .orderBy("doc_id")
    },

    // TOKENIZER FITNESS BY SOURCE — the evaluation table a tokenizer
    // owner actually reads: per-source compression (chars/token) and
    // fertility (tokens/word) under the t32-trained BPE merges. A
    // domain whose compression sits far below the corpus mean is
    // under-served by the vocabulary (its text shatters into single
    // symbols) — the signal that drives domain re-training or vocab
    // extension in production pipelines. Same trained ranks, same
    // shared countsKernel, ONE apply scan + one |sources|-row
    // aggregate of exact integer counts; each ratio is ONE double
    // division at readout. The oracle replays the full training then
    // aggregates the same per-doc counts per source.
    "t47_tokenizer_fitness" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val merges = BpeTokenizer.trainMergesLocal(docs, "text", "doc_id",
        nMerges = 60, sampleN = 2048, maxWords = 4096)
      BpeTokenizer.tokenCounts(docs, merges, "text", "doc_id")
        .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_words").as("n_words"),
          sum($"n_sym").as("n_sym"),
          sum($"n_bpe").as("n_bpe"))
        .select($"source", $"n_docs", $"n_words", $"n_sym", $"n_bpe",
          when($"n_bpe" > 0L, $"n_sym".cast("double") / $"n_bpe")
            .as("compression"),
          when($"n_words" > 0L, $"n_bpe".cast("double") / $"n_words")
            .as("fertility"))
        .orderBy("source")
    },

    // EDIT-DISTANCE VERIFICATION of LSH candidates — the exact-verify
    // stage a production near-dup pipeline runs between candidate
    // generation and the verdict: every d04 MinHash-LSH candidate
    // pair re-scored by BANDED Levenshtein (Ukkonen band: exact
    // distance when ≤ cap, -1 beyond — O(len·cap) per pair, never
    // O(len²); Spark's codegen'd thresholded levenshtein, no UDF).
    // The confirm gate is cross-multiplied (dist·5 ≤ maxlen ⟺
    // normalized distance ≤ 0.2) so no float ever compares. Scale
    // shape: candidates come from the banded equi-join (never
    // all-pairs), the two text lookups are id-keyed equi-joins back
    // to the corpus, and the kernel is a per-row scan op — at 100 TB
    // the cost is |candidates|·len·cap, the budget the cap exists to
    // bound.
    "t48_edit_verify" -> { (s, dir) =>
      import s.implicits._
      val docs = persist(mutCorpus(s, dir)) // LSH build + both text lookups
      Dedup.lshCandidatePairs(docs, "text", "doc_id", 16, 4, 3)
        .select($"id_a", $"id_b", $"est_sim")
        .join(docs.select($"doc_id".as("id_a"), $"text".as("ta")), "id_a")
        .join(docs.select($"doc_id".as("id_b"), $"text".as("tb")), "id_b")
        .withColumn("dist", levenshtein($"ta", $"tb", 400).cast("long"))
        .select($"id_a", $"id_b", $"est_sim", $"dist",
          ($"dist" >= 0L &&
            $"dist" * 5L <= greatest(length($"ta"), length($"tb")).cast("long"))
            .as("confirmed"))
        .orderBy("id_a", "id_b")
    },

    // KMV SKETCH ALGEBRA — the cross-source corpus-overlap matrix from
    // mergeable bottom-k sketches (Beyer et al., SIGMOD'07 §4): per
    // source, the bottom-64 distinct spread shingle hashes
    // (KmvSketchAgg — O(k) state, map-side combinable, ONE pass over
    // the shingle stream); then every pairwise union / intersection /
    // Jaccard ESTIMATE is pure k-array algebra on the |sources|-row
    // sketch table — union sketch = sorted-distinct-merge-truncate,
    // |A∪B| from the merged k-th minimum, Jaccard = bottom-k overlap
    // fraction. At 100 TB this is the only viable overlap-matrix
    // shape: exact pairwise shingle joins grow with corpus², the
    // sketch table stays |sources| × k longs and the 190 pair
    // estimates never touch the data again. The per-source exact
    // distinct count (one linear hash aggregate, q35's convention)
    // rides along so estimate error is visible in the output.
    // Deterministic under the portable spread hash → the oracle
    // replays every estimate bit-for-bit.
    "t33_sketch_overlap" -> { (s, dir) =>
      import s.implicits._
      val k = 64
      val bigP = 1000000007L
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val sp = Dedup.shingles(docs, "text", "doc_id", n = 3)
        .join(docs.select($"doc_id".as("id"), $"source"), "id")
        .select($"source".as("src"),
          ((lit(736238393L) * ($"sh" % bigP) + 12345L) % bigP).as("h"))
      // ONE aggregation pass computes both the sketch (Aggregator via
      // udaf, keeps map-side partials) and the exact distinct count;
      // the |sources|-row result is persisted so the pair self-join
      // reads the cache instead of replaying the corpus lineage twice
      // (q47's two-consumer rule: expensive rebuild, tiny cache).
      val sketch = udaf(new graft.functions.KmvSketchAgg(k),
        org.apache.spark.sql.Encoders.scalaLong)
      val skn = persist(sp.groupBy($"src")
        .agg(sketch($"h").as("kv"), countDistinct($"h").as("nd")))
      skn.as("a").join(skn.as("b"), col("a.src") < col("b.src"))
        .select(col("a.src").as("src_a"), col("b.src").as("src_b"),
          col("a.nd").as("nd_a"), col("b.nd").as("nd_b"),
          col("a.kv").as("ka"), col("b.kv").as("kb"))
        .withColumn("mg",
          slice(array_sort(array_distinct(concat($"ka", $"kb"))), 1, k))
        .withColumn("m_n", size($"mg"))
        .withColumn("n_both", size(filter($"mg",
          h => array_contains($"ka", h) && array_contains($"kb", h))))
        .withColumn("union_raw",
          when($"m_n" < k, $"m_n".cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(bigP.toDouble) /
              element_at($"mg", k).cast("double")))
        .select($"src_a", $"src_b", $"nd_a", $"nd_b",
          round($"union_raw", 6).as("union_est"),
          round($"n_both".cast("double") / $"m_n", 6).as("jacc_est"),
          round(($"n_both".cast("double") / $"m_n") * $"union_raw", 6)
            .as("inter_est"))
        .orderBy("src_a", "src_b")
    },

    // OKAPI BM25 TOP-K — the canonical lexical retrieval scorer (k1 =
    // 1.2, b = 0.75), spelled INTEGER-EXACT so the oracle replays
    // every score bit-for-bit (the t22 house style): idf in the 16.16
    // fixed-point log2 — log2Fp(2N-2df+1) - log2Fp(2df+1) is
    // log2((N-df+.5)/(df+.5)) with no libm call, clamped at 0 like
    // every production BM25 — and the tf saturation as one integer
    // division (22·tf·L) div (10·tf·L + 3·L + 9·dl·N), which is
    // tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)) multiplied through by
    // 10·L (avgdl = L/N). All-positive operands, so floor = truncate
    // in any engine. Dataflow: one token explode feeds tf, dl, and df
    // (3 differing consumers → persist), the corpus-level (N, L) pair
    // rides as a broadcast 1-row aggregate (t23's scalar shape), and
    // candidate scoring is the posting equi-join on the term — never
    // an all-pairs text compare. At LLM-corpus scale the bigint
    // products need decimal(38) headroom (L ~ 1e13); at the test SFs
    // they sit well inside long range.
    "t34_bm25_topk" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val tf = persist(docs.select($"doc_id".cast("long").as("id"),
          explode(TextAnalysis.tokens($"text")).as("tok"))
        .groupBy($"id", $"tok").agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy($"id").agg(sum($"tf").as("dl"))
      val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val nl = broadcast(dl.agg(count(lit(1)).as("nn"), sum($"dl").as("ll")))
      val scored = tf.join(df, "tok").join(dl, "id").crossJoin(nl)
        .withColumn("idf_fp", greatest(lit(0L),
          graft.operators.Mixture.log2Fp("2*nn - 2*df + 1") -
            graft.operators.Mixture.log2Fp("2*df + 1")))
        .withColumn("term_fp", expr(
          "(idf_fp * 22 * tf * ll) div (10 * tf * ll + 3 * ll + 9 * dl * nn)"))
        .select($"id".as("n_id"), $"tok", $"term_fp")
      val qterms = tf.filter($"id" < 3).select($"id".as("q_id"), $"tok")
      val hits = qterms.join(scored, "tok")
        .filter($"n_id" =!= $"q_id")
        .groupBy($"q_id", $"n_id")
        .agg(sum($"term_fp").as("score_fp"))
      val w = Window.partitionBy($"q_id").orderBy($"score_fp".desc, $"n_id".asc)
      hits.withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 10)
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"score_fp")
        .orderBy("q_id", "rnk")
    },

    // TextRank-style keyword extraction (Mihalcea & Tarau 2004): nodes
    // = non-stopword tokens (keyed by the shared rolling hash — a
    // collision merges two words, deterministically in BOTH engines),
    // edges = adjacent-token co-occurrence in both directions with
    // parallel edges kept, so t21's fixed-point integer PageRank runs
    // WEIGHTED by co-occurrence count for free. Top 20 keywords by
    // rank, ties broken by token — TakeOrderedAndProject, no global
    // sort. Every iteration is the graph's natural token-hash
    // equi-join + partial-agg sum; the oracle replays all 5 damped
    // iterations bit-for-bit (same reuse as t21's prIters).
    "t35_textrank_keywords" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val toks = docs.select(TextAnalysis.tokens($"text").as("toks"))
      val pairs = toks.select(
          expr("slice(toks, 1, size(toks)-1)").as("la"),
          expr("slice(toks, 2, size(toks)-1)").as("lb"))
        .select(explode(arrays_zip($"la", $"lb")).as("p"))
        .select($"p.la".as("a"), $"p.lb".as("b"))
        .filter(!$"a".isin(stopList: _*) && !$"b".isin(stopList: _*))
      val he = pairs.select(TextAnalysis.stringHash($"a").as("ha"),
          TextAnalysis.stringHash($"b").as("hb"))
        .filter($"ha" =!= $"hb")
      val edges = he.select($"ha".as("src"), $"hb".as("dst"))
        .unionByName(he.select($"hb".as("src"), $"ha".as("dst")))
      val nt = toks.select(explode($"toks").as("w"))
        .filter(!$"w".isin(stopList: _*))
        .select($"w", TextAnalysis.stringHash($"w").as("h"))
      val nodes = nt.select($"h".as("id")).distinct()
      val rep = nt.groupBy($"h").agg(min($"w").as("token"))
      Graph.pageRankFixedPoint(nodes, edges, iters = 5)
        .join(rep, col("id") === col("h"))
        .select($"token", $"rank_fp",
          round($"rank_fp".cast("double") / 1e12, 6).as("rank"))
        .orderBy($"rank_fp".desc, $"token".asc)
        .limit(20)
    },

    // Hybrid retrieval — the fusion shape every retrieval-augmented
    // curation pipeline runs: lexical top-k (distinct-token posting
    // equi-join, never all-pairs text compare) and vector top-k
    // (broadcast query set x corpus, the sanctioned s01 baseline; at
    // corpus scale swap in s15's pruned ADC), fused by reciprocal-rank
    // fusion score 1/(60+rank_lex) + 1/(60+rank_vec) — rank arithmetic
    // on deterministic integer ranks, so the oracle replays it exactly.
    "s18_hybrid_search" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id".cast("long").as("id"), $"text")
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id".cast("long").as("id"), $"embedding")
      val corpus = docs.join(emb, "id")
      val toks = corpus.select($"id",
        explode(array_distinct(TextAnalysis.tokens($"text"))).as("tok"))
      val qTok = toks.filter($"id" < 3).select($"id".as("q_id"), $"tok")
      val shared = qTok.join(toks.select($"id".as("n_id"), $"tok"), "tok")
        .filter($"n_id" =!= $"q_id")
        .groupBy($"q_id", $"n_id").agg(count(lit(1)).as("n_shared"))
      val wLex = Window.partitionBy($"q_id").orderBy($"n_shared".desc, $"n_id".asc)
      val lex = shared.withColumn("lex_rnk", row_number().over(wLex))
        .filter($"lex_rnk" <= 20).select($"q_id", $"n_id", $"lex_rnk")
      val q = broadcast(corpus.filter($"id" < 3)
        .select($"id".as("q_id"), $"embedding".as("q_vec")))
      val wVec = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
      val vec = corpus.select($"id".as("n_id"), $"embedding".as("n_vec"))
        .join(q, $"n_id" =!= $"q_id")
        .withColumn("cos", Similarity.cosine($"q_vec", $"n_vec"))
        .withColumn("vec_rnk", row_number().over(wVec))
        .filter($"vec_rnk" <= 20).select($"q_id", $"n_id", $"vec_rnk")
      val fused = lex.join(vec, Seq("q_id", "n_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / ($"lex_rnk" + 60), lit(0.0)) +
            coalesce(lit(1.0) / ($"vec_rnk" + 60), lit(0.0)), 6))
      val wF = Window.partitionBy($"q_id").orderBy($"rrf".desc, $"n_id".asc)
      fused.withColumn("rnk", row_number().over(wF)).filter($"rnk" <= 5)
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"rrf")
        .orderBy("q_id", "rnk")
    },

    // s01's exact kNN authored purely in SQL through the registered
    // kernel functions (graft_cosine = the codegen DotProduct chain) —
    // the SQL-reachability proof for similarity search, sharing s01's
    // oracle verbatim.
    "s17_sql_knn" -> { (s, dir) =>
      sqlOver(s, "graft_s17_emb" -> s.read.parquet(s"$dir/embeddings.parquet"))(
        """WITH e AS (SELECT vec_id AS id, embedding AS v FROM graft_s17_emb)
              |SELECT q_id, n_id, cast(rn as bigint) AS rnk, cos_sim FROM (
              |  SELECT q.id AS q_id, n.id AS n_id,
              |    round(graft_cosine(q.v, n.v), 6) AS cos_sim,
              |    row_number() OVER (PARTITION BY q.id
              |      ORDER BY graft_cosine(q.v, n.v) DESC, n.id ASC) AS rn
              |  FROM e q JOIN e n ON n.id <> q.id WHERE q.id < 5) t
              |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin)
    },

    // The faiss-shape RESIDUAL IVF x PQ: codes are residuals against
    // the assigned coarse centroid, one LUT per (query, probed list).
    // Fully deterministic (lowest-id centroids; codebook from the
    // residuals of ids nlist..nlist+ncode-1 — the centroids' own
    // residuals are zero), so the oracle replays the whole composition.
    "s16_ivf_pq_residual" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.annTopK(emb, emb.filter($"vec_id" < 5), k = 5,
          AnnSpec(Ivf(nlist = 32, nprobe = 4), PqResidual(m = 8, ncode = 32)))
        .select($"q_id", $"n_id", $"rnk".cast("long").as("rnk"), $"adc_d2")
        .orderBy("q_id", "rnk")
    },

    // Semantic dedup (SemDeDup): coarse-cluster the embedding space
    // with the deterministic s04 quantizer, then mark any vector with
    // a lower-id same-cluster neighbor at cos >= 0.95 a duplicate of
    // the LOWEST such id. The pairwise product is confined to each
    // cluster — one equi-join on the cluster id, never all-pairs.
    "s19_semantic_dedup" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.semanticDedup(emb, nlist = 32, minCos = 0.95)
        .orderBy("vec_id")
    },

    // Semantic decontamination (the embedding-space sibling of d10):
    // corpus = vectors not divisible by 97, eval set = the ~1% that
    // are. Exact broadcast path (evalIsBenchmarkSized vouched — the
    // d10 size contract); per corpus vector, the best-matching eval id
    // + cosine + the contaminated verdict at 0.40 (the synthetic
    // embeddings' natural cross-pair cosine tops out near 0.47, so
    // 0.40 yields a real positive class; the nearest pair sits 0.007
    // from the bar — safely beyond cross-engine float divergence).
    "d14_semantic_decontam" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.semanticContamination(
          emb.filter($"vec_id" % 97 =!= 0),
          emb.filter($"vec_id" % 97 === 0)
            .select($"vec_id".as("eval_id"), $"embedding"),
          minCos = 0.40, evalIsBenchmarkSized = true)
        .orderBy("vec_id")
    },

    // Grid-bucketed eps-distance self-join: per-event neighborhood size
    // in (value, hours) space — DBSCAN's core test as a relational op,
    // planned as a hash equi-join on cell keys (never a nested loop).
    "s03_eps_degree" -> { (s, dir) =>
      import s.implicits._
      val p = Relational.events(s, dir).select(
        $"event_id".as("id"),
        $"value".as("x"),
        ((expr("ts div 1000000000") - lit(1704067200L)) / 3600.0).as("y"))
      graft.operators.SpatialJoin.neighborCounts(p, 2.0, "id").orderBy("id")
    },

    // Same semantics as s03, but written as the NAIVE theta join —
    // `Geo.distSq(...) <= eps^2` with no equi keys — and planned as a
    // bucketed hash join by the EpsJoinRewrite optimizer rule
    // (GraftExtensions). Shares s03's oracle: a correctness proof that
    // the rewrite preserves semantics.
    "s05_eps_join_rewrite" -> { (s, dir) =>
      import s.implicits._
      val p = Relational.events(s, dir).select(
        $"event_id".as("id"),
        $"value".as("x"),
        ((expr("ts div 1000000000") - lit(1704067200L)) / 3600.0).as("y"))
      val pairs = p.as("a").join(p.as("b"),
        graft.functions.Geo.distSq(col("a.x"), col("a.y"), col("b.x"), col("b.y"))
          <= lit(4.0) && col("a.id") =!= col("b.id"))
      pairs.groupBy(col("a.id").as("id"))
        .agg(count(lit(1)).as("n_neighbors"))
        .orderBy("id")
    },

    // The SQL-text spelling of s05: a user writing plain SQL against
    // the registered kernel functions (GraftSqlFunctions) gets the
    // SAME EpsJoinRewrite re-plan — the naive graft_dist_sq theta join
    // becomes the grid-bucketed hash equi-join whether the plan was
    // authored via the DataFrame API or spark.sql. Shares s03's oracle
    // (the rewrite must not change results); PlanAuditSpec holds it to
    // the no-nested-loop bar with no allowance.
    "s14_sql_eps_degree" -> { (s, dir) =>
      import s.implicits._
      val pts = Relational.events(s, dir).select(
        $"event_id".as("id"), $"value".as("x"),
        ((expr("ts div 1000000000") - lit(1704067200L)) / 3600.0).as("y"))
      sqlOver(s, "graft_s14_pts" -> pts)("""SELECT a.id AS id, count(*) AS n_neighbors
              |FROM graft_s14_pts a JOIN graft_s14_pts b
              |  ON graft_dist_sq(a.x, a.y, b.x, b.y) <= 4.0 AND a.id <> b.id
              |GROUP BY a.id ORDER BY id""".stripMargin)
    },

    // DBSCAN generalized to n-D cosine space over embeddings (the
    // reference's core capability on the north-star data): exact
    // neighbor graph on the first 1000 vectors, graph-DBSCAN labels.
    "s06_cosine_dbscan" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet").filter($"vec_id" < 1000)
      Similarity.cosineDBSCAN(emb, minCos = 0.3, minPts = 5)
        .orderBy("vec_id")
    },

    "s02_lsh_buckets" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(Similarity.hyperplaneBucket($"embedding", 8).as("bucket"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy($"bucket")
    },

    // The GENERAL embedding near-dup operator (bucket join + exact
    // verify — what a 100 TB near-dup job actually runs), oracle-checked
    // over the same planted-duplicate corpus d07 uses. Unlike d07's
    // synthetic id-blocking, the hyperplane buckets here know nothing
    // about how the duplicates were constructed; positive scaling
    // preserves every hyperplane sign, so planted pairs land in the
    // same bucket by the math, not by the test setup.
    "s07_lsh_neardup" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val base = emb.select($"vec_id".cast("long").as("vec_id"), $"embedding")
      val scaled = emb.select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", x => x * lit(2.0f)).as("embedding"))
      Similarity.lshNeighborPairs(base.unionByName(scaled), minCosine = 0.3, nPlanes = 8)
        .orderBy("id_a", "id_b")
    },

    // The 100 TB density-clustering path: cosineDBSCAN fed an
    // LSH-built neighbor graph ([[Similarity.lshNeighborPairs]])
    // instead of the exact all-pairs join — nothing in this plan is
    // O(n^2). Same planted-duplicate corpus as s07, so the graph is
    // meaningful (every vector has its scaled twin at cos=1 in the
    // same bucket); minPts=3 splits the corpus into bucket-local
    // clusters vs twin-only noise pairs.
    "s08_cosine_dbscan_lsh" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val base = emb.select($"vec_id".cast("long").as("vec_id"), $"embedding")
      val scaled = emb.select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", x => x * lit(2.0f)).as("embedding"))
      val corpus = base.unionByName(scaled)
      val pairs = Similarity.lshNeighborPairs(corpus, minCosine = 0.3, nPlanes = 8)
      Similarity.cosineDBSCAN(corpus, minCos = 0.3, minPts = 3,
          neighborPairs = Some(pairs))
        .orderBy("vec_id")
    },

    // The fully-composed scale path: banded multi-signature LSH builds
    // the neighbor graph (no 2^8 bucket ceiling anywhere), graph-DBSCAN
    // labels it — s08 with the tunable-recall builder swapped in.
    "s10_cosine_dbscan_banded" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val base = emb.select($"vec_id".cast("long").as("vec_id"), $"embedding")
      val scaled = emb.select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", x => x * lit(2.0f)).as("embedding"))
      val corpus = base.unionByName(scaled)
      val pairs = Similarity.bandedLshNeighborPairs(corpus, minCosine = 0.3,
        bands = 4, planesPerBand = 16)
      Similarity.cosineDBSCAN(corpus, minCos = 0.3, minPts = 3,
          neighborPairs = Some(pairs))
        .orderBy("vec_id")
    },

    // Symmetric int8 quantization of the embedding column with
    // reconstruction-error stats — the 4× vector-store shrink, as a
    // pure per-row projection (no shuffle, no UDF).
    "s11_int8_quantize" -> { (s, dir) =>
      Similarity.int8Quantize(
          s.read.parquet(s"$dir/embeddings.parquet"), "embedding", "vec_id")
        .orderBy("vec_id")
    },

    // Banded multi-signature LSH over the same planted-duplicate corpus:
    // 4 bands x 16 planes (65k buckets per band, vs the single
    // signature's 256 ceiling) — precision from narrow buckets, recall
    // from the 4-way union, pairs deduped by the first-agreeing-band bit
    // filter instead of a distinct.
    "s09_lsh_banded" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val base = emb.select($"vec_id".cast("long").as("vec_id"), $"embedding")
      val scaled = emb.select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", x => x * lit(2.0f)).as("embedding"))
      Similarity.bandedLshNeighborPairs(base.unionByName(scaled),
          minCosine = 0.3, bands = 4, planesPerBand = 16)
        .orderBy("id_a", "id_b")
    },

    // --- multimodal binary plumbing ---
    "m01_binary_meta" -> { (s, dir) =>
      import s.implicits._
      Multimodal.withBinaryPayload(s.read.parquet(s"$dir/documents.parquet"), "text")
        .select($"doc_id",
          octet_length($"payload").cast("long").as("n_bytes"),
          ascii(substring($"text", 1, 1)).cast("long").as("first_code"),
          md5($"text").as("content_md5"))
        .orderBy($"doc_id")
    },

    "m02_media_features" -> { (s, dir) =>
      import s.implicits._
      val withPayload = Multimodal.withBinaryPayload(
        s.read.parquet(s"$dir/documents.parquet"), "text")
      Multimodal.decodeFeatures(s, withPayload)
        .toDF()
        .select($"doc_id", $"n_bytes",
          round($"mean_byte", 6).as("mean_byte"),
          $"n_blocks".cast("long").as("n_blocks"))
        .orderBy($"doc_id")
    },

    // Array-valued outputs are serialized as CSV of micro-unit longs
    // (round(x*1e6)): the driver's pandas comparator cannot sort raw
    // list cells, and integer rendering is engine-identical where
    // double rendering is not.
    "m03_frame_sample" -> { (s, dir) =>
      import s.implicits._
      val withPayload = Multimodal.withBinaryPayload(
        s.read.parquet(s"$dir/documents.parquet"), "text")
      def micros(c: Column): Column =
        concat_ws(",", transform(c, x => round(x * 1e6).cast("long").cast("string")))
      Multimodal.sampleFrames(Multimodal.decodeFeatures(s, withPayload), stride = 4)
        .toDF()
        .select($"doc_id",
          $"n_blocks".cast("long").as("n_blocks"),
          $"n_frames".cast("long").as("n_frames"),
          micros($"frame_means").as("frame_means_micro"),
          micros($"resized").as("resized_micro"))
        .orderBy($"doc_id")
    },

    // Content-defined chunking: rolling-hash boundaries (w=8, mask 64)
    // over each document — the chunk-level dedup primitive for byte/
    // multimodal payloads (insertion-robust, unlike fixed blocks).
    // CDC STORAGE-DEDUP READOUT — the backup/warehouse question m04's
    // chunking exists to answer: per document, how many of its
    // content-defined chunks (and how many bytes) already exist in
    // ANOTHER document — the dedupable-storage estimate a chunk store
    // realizes. Distinct-doc df >= 2 on the chunk hash (d21's rule:
    // within-doc repeats are not cross-doc savings), postings
    // semi-join back — no pair join anywhere. The planted 80%-prefix
    // mutants guarantee shared prefix chunks; the content-defined
    // boundaries make the shared prefix chunk IDENTICALLY on both
    // sides (the property fixed-size blocks lack).
    // CLIP-SCORE PAIR FILTERING — the LAION curation gate (Schuhmann
    // et al. 2021: keep an image-text pair iff the CLIP cosine between
    // the image and text towers clears a bar). The two towers are a
    // DETERMINISTIC STAND-IN: halves of the stored embedding (dims
    // 1-32 = "image", 33-64 = "text") — the exact seam a real CLIP
    // pair-table (one vector per tower from m02's feature extractor)
    // drops into; the Spark-side plumbing (slice, sequential-fold
    // cosine, corpus-relative bar, keep flag) is the production
    // dataflow. The bar is the corpus MEAN score, compared in 1e6
    // fixed point with the integer cross-multiplication (never a
    // float compare, never a truncating division on a possibly
    // negative sum — the q68 floor-vs-trunc class). One corpus scan +
    // one 1-row broadcast: nothing grows with the corpus.
    "m15_clip_filter" -> { (s, dir) =>
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val scored = emb.select($"vec_id", $"label".cast("long").as("label"),
          slice($"embedding", 1, 32).as("img"),
          slice($"embedding", 33, 32).as("txt"))
        .withColumn("cos", Similarity.cosine($"img", $"txt"))
        .select($"vec_id", $"label",
          round($"cos", 6).as("clip_score"),
          round($"cos" * 1e6).cast("long").as("cos_fp"))
      val tot = scored.agg(sum($"cos_fp").as("sum_fp"),
        count(lit(1)).as("n_pairs")).withColumn("jk", lit(1))
      scored.withColumn("jk", lit(1)).join(broadcast(tot), "jk")
        .select($"vec_id", $"label", $"clip_score", $"cos_fp",
          $"n_pairs", $"sum_fp",
          ($"cos_fp" * $"n_pairs" >= $"sum_fp").as("keep"))
        .orderBy("vec_id")
    },

    "m14_chunk_dedup_stats" -> { (s, dir) =>
      import s.implicits._
      val chunks = persist(
        mutCorpus(s, dir)
          .select($"doc_id".cast("long").as("doc_id"), $"text")
          .as[(Long, String)]
          .flatMap { case (id, t) =>
            graft.functions.TextKernels.cdcChunks(
                if (t == null) "" else t, w = 8, mask = 63)
              .map { case (h, l) => (id, h, l.toLong) }
          }
          .toDF("doc_id", "ch", "clen")) // df aggregate + the mark join read the same rows
      val dup = chunks.groupBy($"ch")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" >= 2).select($"ch", lit(1L).as("hit"))
      chunks.join(dup, Seq("ch"), "left_outer")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum($"clen").as("total_bytes"),
          sum(when($"hit" === 1L, 1L).otherwise(0L)).as("n_dup_chunks"),
          sum(when($"hit" === 1L, $"clen").otherwise(0L)).as("dup_bytes"))
        .select($"doc_id", $"n_chunks", $"total_bytes", $"n_dup_chunks",
          $"dup_bytes",
          round(when($"total_bytes" > 0L,
            $"dup_bytes".cast("double") / $"total_bytes"), 6).as("dup_frac"))
        .orderBy("doc_id")
    },

    "m04_cdc_chunks" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id".cast("long").as("doc_id"), $"text")
        .as[(Long, String)]
        .map { case (id, t) =>
          val hs = graft.functions.TextKernels.cdcChunkHashes(
            if (t == null) "" else t, w = 8, mask = 63)
          (id, hs.length.toLong, hs.mkString(","))
        }
        .toDF("doc_id", "n_chunks", "chunk_hashes_csv")
        .orderBy("doc_id")
    },

    // Binary near-dup via shared content-defined chunks over the
    // planted-near-dup corpus: prefix-trimmed copies keep every chunk
    // before the cut, so they surface at high overlap; the df<=16
    // posting cap bounds the join (see chunkOverlapPairs).
    // Perceptual-hash near-dup over the binary payload: aHash of the
    // stubbed decode (64 evenly-sampled bytes ~ an 8x8 luma grid),
    // then EXACTLY d12's 4 x 16-bit band join via the shared engine.
    // The noisy corpus re-adds every payload with its first three
    // bytes case-flipped — a SAME-LENGTH perturbation (grid positions
    // stay aligned, like a small watermark on an image) that
    // byte-exact (d01) and chunk-level (m05) matching treat as a
    // different file but the perceptual hash folds together.
    "m06_phash_neardup" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val noisy = docs.select($"doc_id", $"text").unionByName(
        docs.select(($"doc_id" + 100000).as("doc_id"),
          concat(upper(substring($"text", 1, 3)),
            expr("substring(text, 4)")).as("text")))
      Multimodal.phashNearPairs(noisy, "text", "doc_id", maxHamming = 6)
        .orderBy("id_a", "id_b")
    },

    "m05_chunk_overlap" -> { (s, dir) =>
      Multimodal.chunkOverlapPairs(mutCorpus(s, dir), "text", "doc_id",
          w = 8, mask = 63, dfCap = 16, minOverlap = 0.5)
        .orderBy("id_a", "id_b")
    },

    // Frame-level near-dup (the video counterpart of m05): every 4th
    // 16-byte block keyed by exact integer content, per-payload
    // distinct key sets through the shared df-capped posting engine.
    "m07_frame_neardup" -> { (s, dir) =>
      Multimodal.frameNearPairs(mutCorpus(s, dir), "text", "doc_id",
          stride = 4, dfCap = 16, minOverlap = 0.5)
        .orderBy("id_a", "id_b")
    },

    // A/V SYNC-DRIFT DETECTION — the muxing QA check run before any
    // alignment-supervised training: per asset, the lag between the
    // "audio" and "video" tracks recovered as the argmax of the
    // exact-integer cross-correlation of their block-energy series
    // (fixed shared window so scores are comparable; ties → lowest
    // lag). The second track is planted as a (doc_id % 4)-block byte
    // shift of the first, so ground truth rides in the row and
    // `synced` is a real verdict. One typed partition pass per asset,
    // no shuffle; every score integer, the oracle replays all eight.
    "m16_av_sync" -> { (s, dir) =>
      import s.implicits._
      val withPayloads = Multimodal.withBinaryPayload(
          s.read.parquet(s"$dir/documents.parquet")
            .filter(length($"text") >= 192)
            .select($"doc_id", $"text"), "text")
        .withColumnRenamed("payload", "payload_a")
        .withColumn("payload_b", expr(
          "substring(payload_a, cast(doc_id % 4 as int) * 16 + 1, length(payload_a))"))
      Multimodal.avSyncLag(s, withPayloads).toDF()
        .withColumn("planted_lag", ($"doc_id" % 4).cast("long"))
        .select($"doc_id", $"n_blocks", $"planted_lag", $"best_lag",
          $"best_score", ($"best_lag" === $"planted_lag").as("synced"))
        .orderBy("doc_id")
    },

    // VAD-style activity segmentation over the decoded payload: block
    // "energy" thresholded in exact integer arithmetic (blockSum >=
    // thr*blockLen), then the run structure (segments / active blocks /
    // longest run) — q19's gaps-and-islands kernel applied INSIDE one
    // row's payload. One typed partition pass, no shuffle.
    "m08_vad_segments" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.vadSegments(s,
          Multimodal.withBinaryPayload(docs.select($"doc_id", $"text"), "text"),
          thr = 95)
        .toDF()
        .withColumn("active_frac", round(
          when($"n_blocks" > 0, $"n_active".cast("double") / $"n_blocks")
            .otherwise(0.0), 6))
        .select($"doc_id", $"n_blocks".cast("long").as("n_blocks"),
          $"n_active", $"n_segments", $"longest_run", $"active_frac")
        .orderBy("doc_id")
    },

    // Corpus snapshot diff — dataset versioning's change-detection
    // pass (what a nightly ingest reports before promoting a new
    // corpus version): v1 FULL OUTER JOIN v2 on the document key,
    // verdicts from content-hash comparison. Only (key, 16-byte md5)
    // pairs ever shuffle — the texts stay in their scans — so the diff
    // of a 100 TB corpus moves ~24 bytes/doc. The v2 snapshot is
    // synthesized deterministically (drop %13, modify %7, add %11
    // under new ids) so every verdict class is populated.
    "d18_snapshot_diff" -> { (s, dir) =>
      import s.implicits._
      val base = s.read.parquet(s"$dir/documents.parquet")
      val v1 = base.select($"doc_id", md5($"text").as("fp1"))
      val v2 = base.filter($"doc_id" % 13 =!= 0)
        .select($"doc_id", md5(when($"doc_id" % 7 === 0,
          concat($"text", lit(" v2"))).otherwise($"text")).as("fp2"))
        .unionByName(base.filter($"doc_id" % 11 === 0)
          .select(($"doc_id" + 200000).as("doc_id"),
            md5(concat($"text", lit(" new"))).as("fp2")))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("verdict",
          when($"fp1".isNull, "added")
            .when($"fp2".isNull, "removed")
            .when($"fp1" === $"fp2", "unchanged")
            .otherwise("modified"))
        .groupBy($"verdict").agg(count(lit(1)).as("n"))
        .orderBy($"verdict")
    },

    // Weighted (multiset) Jaccard near-dup over the mutated corpus —
    // capped term frequencies as integer weights, exact integer
    // intersection/union, cross-multiplied θ = 1/2 threshold. The
    // repetition-sensitive dedup d02's set semantics can't express.
    "d19_weighted_jaccard" -> { (s, dir) =>
      import s.implicits._
      Dedup.weightedJaccardPairs(mutCorpus(s, dir), "text", "doc_id",
          wCap = 3, dfCap = 50, thetaNum = 1, thetaDen = 2)
        .orderBy($"id_a", $"id_b")
    },

    // INCREMENTAL AGGREGATE MAINTENANCE — the don't-rescan-the-corpus
    // arm of d18's versioning story: per-source stats for corpus v2
    // derived from the STORED v1 aggregate plus the CHANGE FEED only
    // (adds/removes/modifies as signed deltas), never from a v2 scan —
    // at 100 TB the nightly ingest touches O(|delta| + |sources|)
    // rows where a recompute reads everything. The v2 snapshot is
    // d18's (drop %13, modify %7 → +3 chars, add %11 under new ids);
    // deltas aggregate per source with commutative integer sums, the
    // maintained result full-outer-joins the stored v1 stats, and the
    // direct v2 recompute rides along as the witness — `consistent`
    // proves delta-maintenance ≡ recompute row by row (the query IS
    // the incremental-view-maintenance correctness check).
    "d20_incremental_stats" -> { (s, dir) =>
      import s.implicits._
      val base = s.read.parquet(s"$dir/documents.parquet")
      val v1 = base.select($"doc_id", $"source", length($"text").as("len"))
      val v2 = base.filter($"doc_id" % 13 =!= 0)
        .select($"doc_id", $"source",
          (length($"text") + when($"doc_id" % 7 === 0, 3).otherwise(0))
            .as("len"))
        .unionByName(base.filter($"doc_id" % 11 === 0)
          .select(($"doc_id" + 200000).as("doc_id"), $"source",
            (length($"text") + 4).as("len")))
      val statsV1 = v1.groupBy($"source")
        .agg(count(lit(1)).as("n1"), sum($"len").cast("long").as("l1"))
      val delta = v1.select($"doc_id", $"source".as("src1"), $"len".as("len1"))
        .join(v2.select($"doc_id", $"source".as("src2"), $"len".as("len2")),
          Seq("doc_id"), "full_outer")
        .filter($"len1".isNull || $"len2".isNull || $"len1" =!= $"len2")
        .select(coalesce($"src1", $"src2").as("source"),
          (when($"len1".isNull, 1L).when($"len2".isNull, -1L).otherwise(0L))
            .as("dn"),
          (coalesce($"len2", lit(0)) - coalesce($"len1", lit(0)))
            .cast("long").as("dl"))
        .groupBy($"source")
        .agg(sum($"dn").as("dn"), sum($"dl").as("dl"))
      val incr = statsV1.join(delta, Seq("source"), "full_outer")
        .select($"source",
          (coalesce($"n1", lit(0L)) + coalesce($"dn", lit(0L)))
            .as("n_docs_incr"),
          (coalesce($"l1", lit(0L)) + coalesce($"dl", lit(0L)))
            .as("sum_len_incr"))
      val full = v2.groupBy($"source")
        .agg(count(lit(1)).as("n_docs_full"),
          sum($"len").cast("long").as("sum_len_full"))
      incr.join(full, Seq("source"), "full_outer")
        .select($"source", $"n_docs_incr", $"sum_len_incr",
          $"n_docs_full", $"sum_len_full",
          ($"n_docs_incr" === $"n_docs_full" &&
            $"sum_len_incr" === $"sum_len_full").as("consistent"))
        .orderBy("source")
    },

    // Dedup-subsystem EVALUATION as an oracle row — measured recall of
    // the d04 MinHash-LSH candidate generator against exact ground
    // truth: every planted (doc, 80%-mutant) pair's TRUE shingle
    // Jaccard is computed exactly (per-pair posting intersection — N
    // pairs, never N²), thresholded at 0.8, and checked against the
    // LSH candidate set. Both sides are engine-portable (integer
    // shingle counts; one double division per pair), so recall — the
    // number a production dedup pipeline is tuned by — is itself
    // oracle-checked, not spec-asserted.
    "t39_dedup_eval" -> { (s, dir) =>
      import s.implicits._
      val corpus = mutCorpus(s, dir)
      val sh = Dedup.shingles(corpus, "text", "doc_id", n = 3)
      val a = sh.filter($"id" < 100000).select($"id".as("pid"), $"sh")
      val b = sh.filter($"id" >= 100000)
        .select(($"id" - 100000).as("pid"), $"sh")
      val inter = a.join(b, Seq("pid", "sh"))
        .groupBy($"pid").agg(count(lit(1)).as("ni"))
      val truth = a.groupBy($"pid").agg(count(lit(1)).as("na"))
        .join(b.groupBy($"pid").agg(count(lit(1)).as("nb")), "pid")
        .join(inter, Seq("pid"), "left")
        .na.fill(0L, Seq("ni"))
        .withColumn("jacc",
          $"ni".cast("double") / ($"na" + $"nb" - $"ni").cast("double"))
      // two consumers: the totals and the planted probe
      val cand = persist(Dedup.lshCandidatePairs(corpus, "text", "doc_id", 16, 4, 3))
      val found = cand
        .filter($"id_b" === $"id_a" + 100000 && $"id_a" < 100000)
        .select($"id_a".as("pid")).distinct()
        .withColumn("is_found", lit(true))
      val agg1 = truth.join(found, Seq("pid"), "left")
        .agg(count(lit(1)).as("n_planted"),
          sum(when($"jacc" >= 0.8, 1L).otherwise(0L)).cast("long")
            .as("n_true_dup"),
          sum(when($"jacc" >= 0.8 && $"is_found", 1L).otherwise(0L))
            .cast("long").as("n_found_true"))
      val agg2 = cand.agg(count(lit(1)).as("n_candidates"),
        sum(when($"id_b" === $"id_a" + 100000 && $"id_a" < 100000, 1L)
          .otherwise(0L)).cast("long").as("n_cand_planted"))
      agg1.crossJoin(broadcast(agg2))
        .withColumn("recall",
          round($"n_found_true".cast("double") / $"n_true_dup", 6))
        .select($"n_planted", $"n_true_dup", $"n_found_true", $"recall",
          $"n_candidates", $"n_cand_planted")
    },

    // LSH band/row TRADEOFF CURVE — the tuning table a production
    // dedup pipeline is configured from: for k=16 minhashes laid out
    // as 2×8 / 4×4 / 8×2 (bands × rows-per-band), the measured recall
    // against t39's exact planted-pair ground truth and the candidate
    // volume paid for it. More bands ⇒ higher collision probability ⇒
    // higher recall AND more candidates — this query measures the
    // curve's actual shape on this corpus, oracle-replayed end to end.
    "t40_lsh_tradeoff" -> { (s, dir) =>
      import s.implicits._
      val corpus = mutCorpus(s, dir)
      // ONE shingle kernel pass feeds BOTH the exact ground-truth arm
      // and the minhash signatures (t40 previously ran it four times:
      // once for truth + once inside each band layout's candidate
      // pipeline)
      val sh = persist(Dedup.shingles(corpus, "text", "doc_id", n = 3))
      val a = sh.filter($"id" < 100000).select($"id".as("pid"), $"sh")
      val b = sh.filter($"id" >= 100000)
        .select(($"id" - 100000).as("pid"), $"sh")
      val inter = a.join(b, Seq("pid", "sh"))
        .groupBy($"pid").agg(count(lit(1)).as("ni"))
      val trueDups = persist(a.groupBy($"pid").agg(count(lit(1)).as("na"))
        .join(b.groupBy($"pid").agg(count(lit(1)).as("nb")), "pid")
        .join(inter, Seq("pid"), "left")
        .na.fill(0L, Seq("ni"))
        .filter($"ni".cast("double") /
          ($"na" + $"nb" - $"ni").cast("double") >= 0.8)
        .select($"pid")) // probed once per band layout
      val nTrue = broadcast(trueDups.agg(count(lit(1)).as("n_true_dup")))
      // ... and ONE minhash signature aggregate shared by all three
      // band layouts (the k=16 signatures don't depend on the banding);
      // each arm only pays its banding join
      val mh = persist(Dedup.minhashesFromShingles(sh, k = 16))
      val rows = Seq(2, 4, 8).map { nb =>
        val cand = persist(Dedup.lshCandidatePairsFromMinhashes(mh, k = 16,
          bands = nb))
        val found = cand
          .filter($"id_b" === $"id_a" + 100000 && $"id_a" < 100000)
          .select($"id_a".as("pid")).distinct()
          .join(trueDups, "pid")
          .agg(count(lit(1)).as("n_found"))
        cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(broadcast(found))
          .select(lit(nb.toLong).as("bands"),
            lit((16 / nb).toLong).as("rows_per_band"),
            $"n_found", $"n_candidates")
      }
      rows.reduce(_ unionByName _)
        .crossJoin(nTrue)
        .select($"bands", $"rows_per_band", $"n_true_dup", $"n_found",
          round($"n_found".cast("double") / $"n_true_dup", 6).as("recall"),
          $"n_candidates")
        .orderBy($"bands")
    },

    // Zipf rank-frequency fit — does the corpus obey the power law
    // clean text should (a miner's quality gate: scraped boilerplate
    // and spam flatten the curve)? Token ranks come from GlobalOrder's
    // two-pass distributed rank (no single-task sort over the vocab),
    // and the log-log OLS runs on t34's integer-exact 16.16 fixed-point
    // log2 — five bigint moments over the top-1024 ranks (bounded so
    // every moment product stays far inside long range), ONE double
    // division each for slope/intercept. A healthy Zipf slope ≈ −1.
    "t41_zipf_slope" -> { (s, dir) =>
      import s.implicits._
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(trim($"text"), "\\s+")).as("tok"))
        .filter(length($"tok") > 0)
        .groupBy($"tok").agg(count(lit(1)).as("freq"))
      graft.operators.GlobalOrder.globalRank(toks,
          Seq($"freq".desc, $"tok".asc), rankName = "rank")
        .filter($"rank" <= 1024)
        .select(graft.operators.Mixture.log2Fp("rank").as("x"),
          graft.operators.Mixture.log2Fp("freq").as("y"))
        .agg(count(lit(1)).as("n_tokens"),
          sum($"x").as("sx"), sum($"x" * $"x").as("sxx"),
          sum($"y").as("sy"), sum($"x" * $"y").as("sxy"))
        .withColumn("num", $"n_tokens" * $"sxy" - $"sx" * $"sy")
        .withColumn("den", $"n_tokens" * $"sxx" - $"sx" * $"sx")
        // slope is exact-int-ratio; the intercept's exact numerator
        // sy·den − num·sx overflows long at this scale, so it runs as
        // a TEXTUALLY-FIXED double chain (ȳ − slope·x̄, each op one
        // IEEE-rounded step both engines replay identically)
        .withColumn("slope_d",
          when($"den" =!= 0, $"num".cast("double") / $"den".cast("double")))
        .select($"n_tokens",
          round($"slope_d", 6).as("slope"),
          round(($"sy".cast("double") / $"n_tokens".cast("double") -
            $"slope_d" * ($"sx".cast("double") / $"n_tokens".cast("double")))
            / 65536.0, 6).as("intercept_log2"))
    },

    // Two-sample Kolmogorov-Smirnov drift per source — "does src_i's
    // length distribution match the rest of the corpus?" — computed
    // EXACTLY in integers: D = max_v |cdfA(v)·m − cdfB(v)·n| / (n·m),
    // the numerator a max over cross-multiplied bigint counts (no
    // float CDFs to drift between engines), divided once at readout.
    // Distributed shape: one (source, value) count aggregate, the
    // global value CDF on a provably tiny frame (distinct lengths),
    // per-source CDFs by a source-partitioned window — no data-sized
    // single-task sort.
    "t42_ks_drift" -> { (s, dir) =>
      import s.implicits._
      TextIndex.ksFromCounts(
        s.read.parquet(s"$dir/documents.parquet")
          .select($"source", $"n_chars".cast("long").as("v"))
          .groupBy($"source", $"v").agg(count(lit(1)).as("cnt")))
    },

    // Duplicated-n-gram fraction per document — the memorization-risk
    // metric (Lee et al. 2022): what share of a doc's distinct
    // 3-shingles appear ANYWHERE else in the corpus. One posting df
    // aggregate + one equi-join back — per-doc exposure without any
    // pair materialization (d02 finds WHO overlaps; this scores HOW
    // MUCH of each doc is corpus-duplicated).
    "t43_dup_ngram_fraction" -> { (s, dir) =>
      import s.implicits._
      val sh = persist(
        Dedup.shingles(s.read.parquet(s"$dir/documents.parquet"),
          "text", "doc_id", n = 3)) // df aggregate + join back
      val df = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
      sh.join(df, "sh")
        .groupBy($"id".as("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select($"doc_id", $"n_sh", $"n_dup",
          round($"n_dup".cast("double") / $"n_sh", 6).as("dup_frac"))
        .orderBy($"doc_id")
    },

    // GOPHER REPETITION RULES (Rae et al. 2021, Table A1) in their
    // n-gram form over the token-stream corpus: (a) top-bigram char
    // fraction — occurrences of the doc's most frequent bigram
    // (ties → lexicographically first) × its token chars / total
    // token chars (the paper's definition; can exceed 1 on degenerate
    // docs, by design); (b) duplicate-5-gram char coverage — the
    // EXACT union of token positions covered by any 5-gram occurring
    // ≥2 times in the doc (no double counting), charged by token
    // length. Array-native n-gram generation (transform over the
    // token array — no windows, no self-joins); coverage closes via
    // one slim (doc_id, pos) equi-join against the position-length
    // table. Everything per-doc ⇒ embarrassingly parallel at any
    // corpus size; integers until the two readout divisions, gates as
    // exact integer cross-multiplies (top2 > 0.20, dup5 > 0.15 — the
    // paper's thresholds).
    "t44_repetition_rules" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
        .filter(size($"toks") >= 5)
        .withColumn("total_chars", aggregate(
          transform($"toks", t => length(t).cast("long")),
          lit(0L), (a, x) => a + x))
      val toksC = persist(base) // bigram, 5-gram, position passes
      val wTop = Window.partitionBy($"doc_id")
        .orderBy($"cnt".desc, $"gram".asc)
      val top2 = toksC
        .select($"doc_id", $"total_chars", explode(transform(
          sequence(lit(0), size($"toks") - 2),
          i => concat_ws(" ", element_at($"toks", i + 1),
            element_at($"toks", i + 2)))).as("gram"))
        .groupBy($"doc_id", $"total_chars", $"gram")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wTop)).filter($"rn" === 1)
        .select($"doc_id", $"total_chars", $"gram".as("top2_gram"),
          ($"cnt" * (length($"gram") - 1)).as("top2_chars"))
      val g5 = toksC.select($"doc_id", posexplode(transform(
          sequence(lit(0), size($"toks") - 5),
          i => concat_ws(" ", slice($"toks", i + 1, lit(5))))))
        .withColumnRenamed("pos", "st").withColumnRenamed("col", "gram")
      val dupStarts = g5
        .withColumn("cnt", count(lit(1))
          .over(Window.partitionBy($"doc_id", $"gram")))
        .filter($"cnt" >= 2)
      val posLen = toksC.select($"doc_id",
          posexplode(transform($"toks", t => length(t).cast("long"))))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "tok_len")
      val dup5 = dupStarts
        .select($"doc_id", explode(sequence($"st", $"st" + 4)).as("p"))
        .distinct()
        .join(posLen, Seq("doc_id", "p"))
        .groupBy($"doc_id").agg(sum($"tok_len").as("dup5_chars"))
      top2.join(dup5, Seq("doc_id"), "left")
        .na.fill(0L, Seq("dup5_chars"))
        .select($"doc_id", $"total_chars", $"top2_gram", $"top2_chars",
          $"dup5_chars",
          ($"top2_chars".cast("double") / $"total_chars").as("top2_frac"),
          ($"dup5_chars".cast("double") / $"total_chars").as("dup5_frac"),
          ($"top2_chars" * 5L > $"total_chars").as("flag_top2"),
          ($"dup5_chars" * 20L > $"total_chars" * 3L).as("flag_dup5"))
        .orderBy($"doc_id")
    },

    // Shot-boundary detection over decoded payloads: per-frame byte-sum
    // signatures (16-byte stub frames, m08's convention), a cut wherever
    // consecutive signatures jump > thr. Integer-exact; one typed
    // partition pass, no shuffle.
    "m09_shot_cuts" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.shotCuts(s,
          Multimodal.withBinaryPayload(docs.select($"doc_id", $"text"), "text"),
          thr = 96L)
        .toDF()
        .select($"doc_id", $"n_frames", $"n_cuts", $"n_shots", $"max_jump")
        .orderBy("doc_id")
    },

    // Byte-entropy screen over payloads: fixed-point Shannon entropy
    // of the 256-bucket byte histogram (the junk/compression detector)
    // plus bits/byte as one exact division. Typed partition pass.
    // AUDIO-CONSTELLATION FINGERPRINT MATCHING (Wang 2003, the Shazam
    // construction) over the m-family's deterministic byte-sample
    // convention: frame energies (8-byte sums) → local peaks
    // (left-strict/right-loose, plateau-deterministic) → anchor-target
    // pairs (fan-out ≤ 3 within 16 frames) hashed as (lvl_a, lvl_b,
    // dt) → a posting index. Snippet queries (each 25th doc's middle
    // third, start SNAPPED to the 8-byte frame grid so query frame f
    // IS doc frame f+start/8 — the aligned-sampling assumption the
    // audio pipeline gets from a shared hop size) match via the hash
    // equi-join, and the winner is the OFFSET-ALIGNED count argmax —
    // the time-coherence vote that makes constellation matching
    // robust. Every step integer; the decode stage is the documented
    // byte-payload stub, the prints one per-row kernel pass
    // (Multimodal.constellationPrints), the Spark-side plumbing
    // (posting join, alignment vote) real. Levels are the exact frame
    // energy (≤ 2047): a first cut at 16-byte frames with e/64 levels
    // left only ~96 live hashes and the 10×/30× ladder walked
    // 0.50 → 1.02 per-item (the N² posting term of a
    // non-discriminative index); exact levels give max df 22 at sf0.1
    // (median 2), and m06/m07's df-cap convention (document hashes
    // with df > 64 dropped via a broadcast semi-join on the bounded
    // kept-hash dim) keeps each query print's join fan-out ≤ 64 — the
    // match stays linear in query prints at any corpus size.
    "m11_constellation_match" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // df aggregate + match join read the same prints
      val dp0 = persist(
        Multimodal.constellationPrints(graft.operators.Par.spread(
            docs.select($"doc_id", $"text")))) // single-task fixture scan
      val kept = dp0.groupBy($"hash").agg(count(lit(1)).as("df"))
        .filter($"df" <= 64).select($"hash")
      val dp = dp0.join(broadcast(kept), Seq("hash"), "left_semi")
      val qp = Multimodal.constellationPrints(
          docs.filter($"doc_id" % 25 === 0).select($"doc_id",
            expr("substring(text, ((length(text) div 3) div 8) * 8 + 1," +
              " length(text) div 3)").as("text")))
        .select($"doc_id".as("q_id"), $"hash", $"t".as("qt"))
      val wq = Window.partitionBy($"q_id")
        .orderBy($"n_aligned".desc, $"doc_id".asc, $"off".asc)
      qp.join(dp, "hash")
        .groupBy($"q_id", $"doc_id", ($"t" - $"qt").as("off"))
        .agg(count(lit(1)).as("n_aligned"))
        .withColumn("rn", row_number().over(wq)).filter($"rn" === 1)
        .select($"q_id", $"doc_id".as("match_id"), $"off", $"n_aligned",
          ($"doc_id" === $"q_id").as("self_match"))
        .orderBy($"q_id")
    },

    // Keyframe selection after shot detection (the m09 → "pick one
    // frame per shot for the captioner" pipeline step): m09's
    // byte-sum-jump shots, keyframe = argmax of the exact integer
    // variance sharpness proxy (blockLen·Σx² − (Σx)², ties → earliest
    // frame). One typed partition pass, one row per shot, no shuffle.
    "m12_shot_keyframes" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.shotKeyframes(s,
          Multimodal.withBinaryPayload(docs.select($"doc_id", $"text"), "text"),
          thr = 96L)
        .toDF()
        .select($"doc_id", $"shot", $"start_f", $"end_f", $"key_f",
          $"sharp_fp")
        .orderBy("doc_id", "shot")
    },

    // SPEECH-SHOT COVERAGE — the cross-modal ALIGNMENT join (subtitle/
    // transcript alignment's shape): m08's speech spans interval-join
    // m12's shot spans on the shared block grid, and each shot reads
    // off its speech fraction — the silent-shot filter (credits,
    // slates, b-roll) and the transcription router. Two extraction
    // outputs joined on the asset id with the range predicate riding
    // the equi-join; LEFT join keeps the silent shots. The oracle
    // replays both segmentations (gaps-and-islands for the runs) and
    // the clipped-overlap sum.
    "m17_speech_coverage" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.speechShotCoverage(s,
          Multimodal.withBinaryPayload(docs.select($"doc_id", $"text"), "text"),
          vadThr = 95, cutThr = 96L)
        .orderBy("doc_id", "shot")
    },

    // CONSTELLATION MATCH RECALL as an oracle row (s29/t39's move for
    // the fingerprint subsystem): the planted ground truth is m11's —
    // every 25th doc's frame-aligned middle third IS its own source —
    // and the row reports n_queries / n_matched / recall per
    // configuration, with BOTH candidate levers measured in the same
    // row: fan-out 3→6 (twice the anchor-target pairs per peak) and
    // df-cap 64→256 (4× the posting fan-out allowance). MEASURED
    // RESULT (sf0.1): recall is 108/158 = 0.684 under every arm — the
    // misses are print-starved snippets (1-3 prints whose 1-vote tie
    // the doc_id-asc tie-break loses, plus snippet-edge peaks whose
    // prints don't exist in the source), so neither lever moves it;
    // the binding constraint is snippet peak density, not index
    // geometry. That finding is oracle-checked here, not a PLANS note.
    // The three arms share ONE plan: a print's fan-out rank fo says
    // which arms it belongs to, so each side is printed once and the
    // arms are a tag on the posting join, not three planned chains.
    "m13_constellation_recall" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // nothing persisted: each side is printed once at the largest
      // fan-out (an arm at F keeps the prints with fo <= F, exactly its
      // fan-out-F prints) and read by one plan; planning each arm apart
      // over persisted per-fan-out prints ran ~40 jobs of fixed cost
      // (5 now) on a 500-doc fixture
      val arms = Seq((3, 64), (3, 256), (6, 64))
      val fos = arms.map(_._1).distinct
      val dp = Multimodal.constellationPrints(graft.operators.Par.spread(
          docs.select($"doc_id", $"text")), fanOut = fos.max) // single-task fixture scan
      val qp = Multimodal.constellationPrints(
          docs.filter($"doc_id" % 25 === 0).select($"doc_id",
            expr("substring(text, ((length(text) div 3) div 8) * 8 + 1," +
              " length(text) div 3)").as("text")), fanOut = fos.max)
        .select($"doc_id".as("q_id"), $"hash", $"t".as("qt"), $"fo".as("qfo"))
      val dfs = fos.map(f => count(when($"fo" <= f, 1)).as(s"df$f"))
      val df = dp.groupBy($"hash").agg(dfs.head, dfs.tail: _*)
      val armTags = arms.map { case (f, cap) =>
        when($"qfo" <= f && $"fo" <= f && col(s"df$f") <= cap,
          struct(lit(f.toLong).as("fan_out"), lit(cap.toLong).as("df_cap")))
      }
      val wq = Window.partitionBy($"fan_out", $"df_cap", $"q_id")
        .orderBy($"n_aligned".desc, $"doc_id".asc, $"off".asc)
      val matched = qp.join(dp, "hash").join(df, "hash")
        .select($"q_id", $"doc_id", ($"t" - $"qt").as("off"),
          explode(array_compact(array(armTags: _*))).as("arm"))
        .groupBy($"arm.fan_out", $"arm.df_cap", $"q_id", $"doc_id", $"off")
        .agg(count(lit(1)).as("n_aligned"))
        .withColumn("rn", row_number().over(wq))
        .filter($"rn" === 1 && $"doc_id" === $"q_id")
        .groupBy($"fan_out", $"df_cap").agg(count(lit(1)).as("n_matched"))
      val nqs = fos.map(f => countDistinct(when($"qfo" <= f, $"q_id")).as(s"nq$f"))
      val nQueries = fos.init.foldRight(col(s"nq${fos.last}")) { (f, rest) =>
        when($"fan_out" === f, col(s"nq$f")).otherwise(rest)
      }
      arms.map { case (f, cap) => (f.toLong, cap.toLong) }.toDF("fan_out", "df_cap")
        .crossJoin(qp.agg(nqs.head, nqs.tail: _*))
        .join(matched, Seq("fan_out", "df_cap"), "left")
        .select($"fan_out", $"df_cap", nQueries.as("n_queries"),
          coalesce($"n_matched", lit(0L)).as("n_matched"))
        .withColumn("recall", when($"n_queries" > 0,
          $"n_matched".cast("double") / $"n_queries"))
        .orderBy($"fan_out", $"df_cap")
    },

    "m10_byte_entropy" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.byteEntropy(s,
          Multimodal.withBinaryPayload(docs.select($"doc_id", $"text"), "text"))
        .toDF()
        // NO round(): the operands are identical bigints on both
        // engines, so the ONE IEEE division is bit-identical — while
        // round-to-6 can land on a .5 tie and split between the
        // engines' rounding modes (observed at sf0.1: ...375 vs ...38)
        .withColumn("bits_per_byte",
          when($"n_bytes" > 0,
            $"entropy_fp".cast("double") / ($"n_bytes" * 65536L).cast("double"))
            .otherwise(0.0))
        .select($"doc_id", $"n_bytes", $"n_distinct", $"entropy_fp",
          $"bits_per_byte")
        .orderBy("doc_id")
    },

    // --- streaming ---
    "st01_stream_hourly" -> { (s, dir) =>
      graft.streaming.Streaming.hourlyStats(s, dir)
    },

    "st02_stream_user_state" -> { (s, dir) =>
      graft.streaming.Streaming.userRunningState(s, dir)
    },

    "st24_stream_merge_upsert" -> { (s, dir) =>
      graft.streaming.Streaming.streamMergeUpsert(s, dir)
    },

    "st25_stream_scd2_enrich" -> { (s, dir) =>
      graft.streaming.Streaming.streamScd2Enrich(s, dir)
    },

    "st03_stream_watermark" -> { (s, dir) =>
      graft.streaming.Streaming.hourlyStatsWatermarked(s, dir, delayHours = 2)
    },

    "st04_stream_join" -> { (s, dir) =>
      graft.streaming.Streaming.clickViewJoin(s, dir)
    },

    "st05_stream_sessions" -> { (s, dir) =>
      graft.streaming.Streaming.userSessions(s, dir, gapMinutes = 30)
    },

    "st06_stream_dedup" -> { (s, dir) =>
      graft.streaming.Streaming.streamDedup(s, dir)
    },

    // Streaming near-dup dedup: SimHash band blocking with per-band
    // keyed min-id state, arrival-order-greedy canonical assignment
    // (see Streaming.streamNearDedup for the semantics contract).
    "st07_stream_neardup" -> { (s, dir) =>
      graft.streaming.Streaming.streamNearDedup(s, dir)
        .orderBy("doc_id")
    },

    // st06's dedup with BOUNDED state: dropDuplicatesWithinWatermark
    // over hour-bucketed keys — state evicts once the watermark passes
    // a key's event time + delay (see Streaming.streamDedupBounded).
    "st11_stream_dedup_bounded" -> { (s, dir) =>
      graft.streaming.Streaming.streamDedupBounded(s, dir, delayHours = 2)
    },

    // st02's per-user running state with EventTimeTimeout eviction:
    // idle users' state is emitted and removed (bounded key space);
    // the deterministic replay shares st02's closed-form oracle.
    "st12_stream_user_state_ttl" -> { (s, dir) =>
      graft.streaming.Streaming.userRunningStateTtl(s, dir, ttlHours = 6)
    },

    // st05's session windows in APPEND mode: sessions emit once, when
    // the watermark passes their end, and their state drops — bounded
    // state and output (see Streaming.userSessionsAppend).
    "st13_stream_sessions_append" -> { (s, dir) =>
      graft.streaming.Streaming.userSessionsAppend(s, dir,
        gapMinutes = 30, delayHours = 2)
    },

    // Streaming incremental near-dup: each microbatch stream-static
    // joins against d09's persisted signature index — stateless,
    // batch-invariant, checked by d09's oracle verbatim (see
    // Streaming.streamIndexProbe).
    "st09_stream_quality_route" -> { (s, dir) =>
      graft.streaming.Streaming.streamQualityRoute(s, dir, stopList)
    },

    "st10_stream_pq_match" -> { (s, dir) =>
      graft.streaming.Streaming.streamPqMatch(s, dir, m = 8, ncode = 32)
        .orderBy("vec_id")
    },

    "st08_stream_index_probe" -> { (s, dir) =>
      graft.streaming.Streaming.streamIndexProbe(s, dir)
        .orderBy("doc_id")
    },

    // Streaming semantic dedup: per-row coarse assignment against the
    // broadcast centroids, stream-static join against the batch
    // SemDeDup representatives (see Streaming.streamSemanticDedup).
    "st14_stream_semantic_dedup" -> { (s, dir) =>
      graft.streaming.Streaming.streamSemanticDedup(s, dir,
          nlist = 32, minCos = 0.95)
        .orderBy("vec_id")
    },

    // Streaming DSIR scoring against the batch-learned ratio asset:
    // stateless per-row projection (the 1024-row table rides along as
    // a literal map), so the batch t22 arithmetic is an exact oracle.
    "st15_stream_dsir" -> { (s, dir) =>
      graft.streaming.Streaming.streamDsirScore(s, dir,
          dim = 1024, thrFp = -170000L)
        .orderBy("doc_id")
    },

    // Streaming perplexity scoring against the batch-learned bigram
    // LM: the marginal tables ride along as literal maps of
    // pre-computed fixed-point surprisal halves, so scoring is a
    // stateless per-row fold and batch t23 is an exact oracle.
    "st16_stream_lm_score" -> { (s, dir) =>
      graft.streaming.Streaming.streamLmScore(s, dir,
          ctxDim = 1024, biDim = 65536)
        .orderBy("doc_id")
    },

    // Streaming weighted top-k with bounded per-stratum state (the
    // k-smallest E-S buffer); emissions are a superset of the final
    // answer, so the batch rank over the sink reproduces t24 exactly.
    "st17_stream_weighted_sample" -> { (s, dir) =>
      graft.streaming.Streaming.streamWeightedSample(s, dir, k = 50)
        .orderBy("stratum", "rn")
    },

    // Streaming CM-sketch maintenance (state = the 4x1024 cell table,
    // bounded by construction); selection probes the stream-built
    // sketch through batch t26's exact plan and oracle.
    "st18_stream_cm_sketch" -> { (s, dir) =>
      graft.streaming.Streaming.streamCmHeavyHitters(s, dir,
          minCount = 500L, depth = 4, width = 1024)
        .orderBy("term")
    },

    // Streaming chunk-level dedup (the RAG-ingestion shape): t27's
    // narrow chunking runs unchanged on the document stream; each
    // distinct chunk hash is admitted once (st06's key-set convention).
    "st19_stream_chunk_dedup" -> { (s, dir) =>
      graft.streaming.Streaming.streamChunkDedup(s, dir)
    },

    // Streaming sign-bit near-dup vs the corpus signature column
    // (s21's binary family + d12's 4x16-bit pigeonhole bands, verify
    // inside the stream-static join condition). Stateless and
    // batch-invariant.
    "st20_stream_binary_neardup" -> { (s, dir) =>
      graft.streaming.Streaming.streamBinaryNearDup(s, dir, maxHamming = 3)
    },

    // Streaming HLL maintenance (st18's bounded-state move applied to
    // t30): the shingle stream updates 2^p max-rank registers; the
    // estimate reads out through hllSelect's identical arithmetic, so
    // the query shares t30's oracle verbatim (merge-by-max invariance).
    "st21_stream_hll" -> { (s, dir) =>
      graft.streaming.Streaming.streamHllDistinct(s, dir, p = 10)
    },

    // Stream-stream LEFT OUTER join: st04 plus watermark-gated null
    // rows for never-matched clicks (see Streaming.clickViewJoinOuter
    // for the closed-form emission contract the oracle replays).
    "st22_stream_outer_join" -> { (s, dir) =>
      graft.streaming.Streaming.clickViewJoinOuter(s, dir)
    },

    // Streaming approximate quantiles (q45's mergeable GK sketch as
    // bounded keyed state), read out through q45's rank-bound pattern:
    // the merge-order-dependent estimate reduces to a SQL-checkable
    // boolean (its rank interval grown by n/accuracy + 1 contains
    // frac·n) next to the exact percentile of the same integral
    // metric; StreamingQuantileSpec additionally holds the raw bound.
    "st23_stream_quantiles" -> { (s, dir) =>
      graft.streaming.Streaming.streamQuantilesChecked(s, dir)
    },

    // Streaming per-key anomaly detection: each user's inter-arrival
    // gap judged against the exact integer moments (n, Σg, Σg²) of the
    // key's own gap history — O(1) state, 3σ rule evaluated without
    // floats so the batch window oracle replays every verdict.
    "st26_stream_anomaly" -> { (s, dir) =>
      graft.streaming.Streaming.streamGapAnomaly(s, dir)
    },

    // Streaming Pareto-frontier maintenance — q52's skyline as keyed
    // state: the frontier IS the state (expected O(log n) points),
    // order-independent insert/evict, so the batch NOT EXISTS oracle
    // replays the final frontier exactly.
    "st27_stream_skyline" -> { (s, dir) =>
      graft.streaming.Streaming.streamSkyline(s, dir)
    },

    // Streaming distribution-drift monitor: live per-key value
    // histogram as streaming state vs a batch reference asset; total
    // variation distance from exact integer cross-products (per
    // bucket |obs*Nref - ref*Nobs|), divided once at the end.
    "st28_stream_drift" -> { (s, dir) =>
      graft.streaming.Streaming.streamDrift(s, dir)
    },

    // Streaming transition counting — q54's Markov matrix with O(1)
    // per-user state (just the last event); transitions emitted as
    // append-mode facts and counted batch-side. Shares q54's oracle.
    "st29_stream_transitions" -> { (s, dir) =>
      graft.streaming.Streaming.streamTransitions(s, dir)
    },

    // Streaming data profile — q53's stats backbone over the stream:
    // exact counts/min/max from one complete-mode global aggregate +
    // the portable HLL register sketch for the user-id NDV (batch
    // exact NDV rides along as measured error, t30's convention).
    "st30_stream_profile" -> { (s, dir) =>
      graft.streaming.Streaming.streamProfile(s, dir)
    },

    // Streaming conversion funnel — q40's session funnel as O(1)
    // per-user state (closed-session counters + the open session's
    // live cells); the batch min-semantics fold into a one-pass scan
    // because events arrive in time order. Shares q40's oracle.
    "st31_stream_funnel" -> { (s, dir) =>
      graft.streaming.Streaming.streamFunnel(s, dir)
    },

    // Streaming recency-decay scoring — q58's exact power-of-two decay
    // with a bounded (≤31-cell) per-user hour ring as state; eviction
    // by the user's own clock is lossless under any global reference.
    // Shares q58's oracle.
    "st32_stream_decay" -> { (s, dir) =>
      graft.streaming.Streaming.streamDecayScore(s, dir)
    },

    // Streaming last-touch attribution — q60's LOCF carry-forward as
    // one-string-per-user keyed state; purchases emit attribution
    // facts in append mode. Shares q60's oracle.
    "st33_stream_attribution" -> { (s, dir) =>
      graft.streaming.Streaming.streamAttribution(s, dir)
    },

    // Streaming Bloom maintenance — q26's approximate-membership
    // sketch with the filter's SET BITS as streaming aggregate state
    // (O(m) forever); readout probes customer keys, false positives
    // replayed bit-for-bit by the set-semantics oracle.
    "st34_stream_bloom" -> { (s, dir) =>
      graft.streaming.Streaming.streamBloomMembers(s, dir)
    },

    // Streaming KMV distinct sketch — t33's deterministic bottom-k
    // as an O(k) streaming aggregate per source; the oracle replays
    // sketch AND estimate bit-for-bit, batch exact NDV rides as
    // measured error.
    "st35_stream_kmv" -> { (s, dir) =>
      graft.streaming.Streaming.streamKmvDistinct(s, dir)
    },

    // Streaming A/B monitor — q65's Welch-t readout live over the
    // stream: ONE long of keyed state per user (arm assignment is the
    // stateless portable hash). Shares q65's oracle.
    "st36_stream_ab_test" -> { (s, dir) =>
      graft.streaming.Streaming.streamAbTest(s, dir)
    },

    // Streaming trend monitor — q63's closed-form OLS over a TRAILING
    // 31-day window as bounded keyed state (st32's lossless
    // self-clock eviction applied to per-type daily counts); own
    // windowed oracle.
    // Streaming KS drift — t42's exact-integer two-sample KS with the
    // (source, length) count table as streaming state; shares t42's
    // oracle verbatim (the replayed stream reproduces the counts).
    "st38_stream_ks" -> { (s, dir) =>
      graft.streaming.Streaming.streamKsDrift(s, dir)
    },

    // Streaming chain-suppression throttle — keep an event iff >=300s
    // since the last KEPT event of its (user, type): inherently
    // sequential state (q71's stateless debounce can't express it);
    // the oracle replays the chain with a per-key recursive CTE.
    "st39_stream_throttle" -> { (s, dir) =>
      graft.streaming.Streaming.streamThrottle(s, dir)
    },

    // Streaming quality gate: t45's classifier as a stateless per-row
    // fold (weights are column expressions — no state, no table).
    "st41_stream_quality_gate" -> { (s, dir) =>
      graft.streaming.Streaming.streamQualityGate(s, dir)
        .orderBy("doc_id")
    },

    // Streaming trained-BPE token counting: t32's tokenizer in-flight —
    // train once on the static corpus, stream docs through the SHARED
    // batch/stream counts kernel against the broadcast ranks.
    // Stateless, append; shares t32's full training-replay oracle.
    "st42_stream_bpe_tokens" -> { (s, dir) =>
      graft.streaming.Streaming.streamBpeTokens(s, dir)
        .orderBy("doc_id")
    },

    // Streaming constellation-fingerprint identification: m11's
    // snippet→source matching with the snippet side streamed against
    // the static df-capped posting index; stateless per-row kernel
    // prints + stream-static hash equi-join, vote argmax as the batch
    // readout — batch m11 is the exact oracle.
    "st40_stream_constellation" -> { (s, dir) =>
      graft.streaming.Streaming.streamConstellationMatch(s, dir)
        .orderBy("q_id")
    },

    "st37_stream_trend" -> { (s, dir) =>
      graft.streaming.Streaming.streamTrend(s, dir)
    },

    // STREAMING INCREMENTAL VIEW MAINTENANCE — d20's change feed live:
    // stateless per-row delta events, |sources|-row complete-mode
    // state, readout = stored v1 aggregate + streamed deltas. The
    // oracle recomputes v2 per source from scratch; maintained must
    // equal recomputed.
    "st43_stream_ivm" -> { (s, dir) =>
      graft.streaming.Streaming.streamIncrementalStats(s, dir)
    },

    // STREAMING EXACT-SUBSTRING CUT-LIST PROBE — d21's removal
    // artifact in-flight: the arriving 80%-prefix shard probed against
    // the frozen corpus's distinct window-hash set (a build-once asset
    // at scale), stateless stream side sharing d21's exact window
    // kernel, per-doc maximal spans recovered from the appended match
    // table. Its own oracle replays shard + corpus + islands in SQL.
    "st44_stream_dup_probe" -> { (s, dir) =>
      graft.streaming.Streaming.streamDupSpanProbe(s, dir)
        .orderBy("doc_id")
    },

    // STREAMING CDC CHUNK-SAVINGS PROBE — m14's storage-dedup readout
    // for an arriving shard vs the frozen corpus chunk store: shared
    // cdcChunks kernel in a stateless typed flatMap, stream-static
    // hash join, per-doc byte accounting. Own shard+corpus replay
    // oracle.
    "st48_stream_chunk_probe" -> { (s, dir) =>
      graft.streaming.Streaming.streamChunkProbe(s, dir)
        .orderBy("doc_id")
    },

    // STREAMING TERM-DISPERSION MAINTENANCE — t49's corpus-mix
    // monitor live: bounded |sources|·|vocab| complete-mode count
    // cells, batch-identical exact-integer DP readout. Shares t49's
    // oracle verbatim.
    "st47_stream_dispersion" -> { (s, dir) =>
      graft.streaming.Streaming.streamTermDispersion(s, dir)
        .orderBy(col("ct").desc, col("tok").asc)
    },

    // STREAMING SESSION ENTRY/EXIT — q76's landing-page table over
    // watermark-closed sessions: first/last events ride the built-in
    // session_window as mergeable min/max structs (append mode, st13's
    // exactly-once emission convention); own oracle replays the gap
    // sessions with the watermark-closure filter.
    "st46_stream_entry_exit" -> { (s, dir) =>
      graft.streaming.Streaming.streamEntryExit(s, dir)
        .orderBy("event_type")
    },

    // STREAMING SEASONALITY MAINTENANCE — q75's hour-of-week profile
    // kept live: bounded |types|·168-cell complete-mode state of
    // milli-unit integer sums, batch-identical readout (index + peak
    // rank). Shares q75's oracle verbatim.
    "st45_stream_seasonality" -> { (s, dir) =>
      graft.streaming.Streaming.streamSeasonality(s, dir)
        .orderBy("event_type", "how")
    },

    // STREAMING CLUSTER-QUOTA ADMISSION — t52's balanced selection
    // kept live: trained-cell routing of the arriving shard + an
    // O(cap) per-cell min-hash-set state machine whose final admitted
    // set is micro-batch-order-invariant (min-k merge is commutative
    // and idempotent), so t52's rank arithmetic over the same shard
    // replays it exactly.
    "st49_stream_cluster_quota" -> { (s, dir) =>
      graft.streaming.Streaming.streamClusterQuota(s, dir)
        .orderBy("c_id", "rn")
    },

    // STREAMING A/V SYNC QA — m16's centered-cross-correlation lag
    // detector at ingest time (the muxing gate before any
    // alignment-supervised set). Stateless shared kernel per arriving
    // asset; m16's oracle verifies the stream verbatim.
    "st52_stream_av_sync" -> { (s, dir) =>
      graft.streaming.Streaming.streamAvSync(s, dir)
        .orderBy("doc_id")
    },

    // STREAMING PER-SOURCE KL MAINTENANCE — t53's domain-shift readout
    // kept live while the corpus streams in (st47's bounded
    // |sources|·|vocab| complete-mode count state, t53's exact
    // fixed-point readout on the maintained counts). Shares t53's
    // oracle verbatim: after the replayed corpus, stream == batch.
    "st51_stream_source_kl" -> { (s, dir) =>
      graft.streaming.Streaming.streamSourceKl(s, dir)
        .orderBy("source")
    },

    // STREAMING GRAPH-ANN SERVING — the production vector-serving
    // shape: arriving query vectors walk the frozen s37 k-NN-graph
    // asset per row (index replicated into worker memory, queries
    // never shuffle — DiskANN/HNSW's serving contract), running the
    // exact distributed beam-search math locally. The oracle replays
    // the full batch construction + every arriving query's walk.
    "st50_stream_graph_probe" -> { (s, dir) =>
      graft.streaming.Streaming.streamGraphProbe(s, dir)
        .orderBy("q_id", "rnk")
    },

    // STREAMING k-NN-GRAPH UPSERT INTENTS — d26's incremental graph
    // maintenance at ingest time: arriving vectors route through the
    // FROZEN corpus-scaled two-level index locally (assets replicated
    // into worker memory, st50's serving contract) and emit the
    // write-ahead intents a downstream merger applies — their own
    // top-k over the probed cells' base members, plus the (base_q →
    // new_n) edges that beat base_q's stored 5th-best rounded cosine.
    // The oracle replays the frozen build and every intent.
    "st53_stream_graph_upsert" -> { (s, dir) =>
      graft.streaming.Streaming.streamGraphUpsert(s, dir)
        .orderBy("kind", "q_id", "n_id")
    },

    // STREAMING TAKEDOWN INTENTS — st53's delete half: arriving
    // notices (every tenth vector) stream-static-join the frozen
    // graph asset and emit `drop` (the notice's own adjacency) and
    // `invalidate` (every stored edge pointing at the notice — the
    // holder's slot goes dirty for s42's compaction repair). Intent
    // emission is per-notice-exact precisely BECAUSE repair is
    // deferred to the batch compactor; the oracle replays the scaled
    // build and both arms.
    "st54_stream_tombstone" -> { (s, dir) =>
      import s.implicits._
      graft.streaming.Streaming.streamTombstoneIntents(s, dir)
        .orderBy($"kind", $"q_id", coalesce($"n_id", lit(-1L)))
    },

    // STREAMING CONTENT-TAKEDOWN PROPAGATION — the content-level
    // policy (d27 is the doc-level one): an arriving notice purges its
    // WHOLE near-dup cluster via two stream-static equi-joins against
    // the frozen d08 cluster map — including copies under ids the
    // notifier never saw (each base notice drags its planted +100000
    // mutant out with it). The oracle replays d08's closure and both
    // joins.
    "st55_stream_takedown_propagate" -> { (s, dir) =>
      graft.streaming.Streaming.streamTakedownPropagate(s, dir,
          mutCorpus(s, dir))
        .orderBy("ntc_id", "member")
    },

    // STREAMING SHARD ROUTER — t55's rendezvous assignment at ingest
    // time in its true production shape: a pure per-row codegen'd
    // column expression (array_max over (w, −s, s) structs IS the tie
    // rule), stateless and shuffle-free. Shares t55's oracle verbatim.
    "st56_stream_shard_router" -> { (s, dir) =>
      graft.streaming.Streaming.streamShardRouter(s, dir, k = 8, k2 = 9)
        .orderBy("doc_id")
    },

    // STREAMING SPEECH-SHOT COVERAGE — m17's silent-shot gate at
    // ingest: ONE typed pass computes both segmentations and emits the
    // per-shot coverage rows directly (no join, no state). Shares
    // m17's oracle verbatim.
    "st57_stream_speech_coverage" -> { (s, dir) =>
      graft.streaming.Streaming.streamSpeechCoverage(s, dir,
          vadThr = 95, cutThr = 96L)
        .orderBy("doc_id", "shot")
    },

    // SHARD-COMPOSED STREAMING GRAPH SERVING — the rendezvous router
    // (t55/st56) composed with st50's serving walk: the corpus is
    // HRW-sharded by vec_id, each shard builds its OWN corpus-scaled
    // graph asset, each serving arm replicates ONLY its shard's
    // vectors + adjacency + seeds (O(corpus/nShards) — the bound the
    // full-replica st50 contract lacks at 100 TB), and an arriving
    // query routes by ITS key's shard and walks that replica locally.
    // The oracle replays all four shard-local builds and every routed
    // walk.
    "st58_sharded_graph_probe" -> { (s, dir) =>
      graft.streaming.Streaming.streamShardedGraphProbe(s, dir,
          nShards = 4)
        .orderBy("q_id", "rnk")
    },

    // STREAMING TAKEDOWN → SERVING — the family's missing composition:
    // st54's streamed intent table IS the tombstone input (its `drop`
    // rows anti-join the scoring corpus), serving walks the UNCHANGED
    // stored graph asset at zero per-takedown build cost. Oracle =
    // s43's replay verbatim: stream-derived mask == closed-form mask.
    "st59_takedown_to_serving" -> { (s, dir) =>
      graft.streaming.Streaming.streamTakedownToServing(s, dir)
        .orderBy("q_id", "rnk")
    },

    // THE FULL SERVING STACK — rendezvous-sharded per-shard graph
    // assets (st58) + st54's streamed takedown intents masking each
    // shard's scoring replica (s43/st59's contract): the complete
    // production read path in one oracle row. Per-shard replay with
    // the scoreMask arm — nShards independent masked deployments.
    "st60_sharded_takedown_serving" -> { (s, dir) =>
      graft.streaming.Streaming.streamShardedTakedownServing(s, dir,
          nShards = 4)
        .orderBy("q_id", "rnk")
    },

    // CELL-SHARDED STREAMING UPSERT INTENTS — st53 was the streaming
    // family's last full-corpus replica; here its assets (cell
    // members, probers, prober vectors, thresholds) are sliced by the
    // CELL's rendezvous owner, each arm holds O((1+nprobe)·corpus/4),
    // arrivals visit only their probed cells' owners, and intents are
    // emitted as per-owner partials (lossless — the merger's top-k of
    // the union equals st53's global list; GraphUpsertSpec pins the
    // fold). The oracle replays the frozen build and every partial.
    "st61_sharded_graph_upsert" -> { (s, dir) =>
      import s.implicits._
      graft.streaming.Streaming.streamShardedGraphUpsert(s, dir,
          nOwners = 4)
        .orderBy($"kind", $"owner", $"q_id", $"n_id")
    },

    // SHARD-RESIZE COMPOSED SERVING — the fleet grows 4 → 5 shards and
    // keeps serving: the 4 old shards REUSE their stored kFrom-layout
    // assets byte-for-byte (zero builds) with their movers masked from
    // the scoring replica (s43's contract), only the ONE new shard
    // builds an asset — over exactly t56's mover sliver (~1/kTo of
    // the corpus). Queries route under the new layout; HRW makes the
    // routing self-consistent (an old-shard query's kFrom-argmax is
    // identical). Oracle = per-shard replay: kFrom-slice builds with
    // kTo-slice scoring for old shards, kTo builds for the new one.
    "st62_shard_resize_serving" -> { (s, dir) =>
      graft.streaming.Streaming.streamShardResizeServing(s, dir,
          kFrom = 4, kTo = 5)
        .orderBy("q_id", "rnk")
    },

    // SHARD-FAILOVER SERVING — the resize's other direction: the
    // 5-shard fleet loses its newest node and keeps serving with ZERO
    // builds. Survivors score their 4-layout slice (own keys + gained
    // orphans) against the stored pre-failover asset; the orphans —
    // edgeless until recompaction — are OR-widened into the seed
    // layer, so they stay findable (degraded, never invisible).
    "st63_shard_failover_serving" -> { (s, dir) =>
      graft.streaming.Streaming.streamShardFailoverServing(s, dir,
          kFrom = 5)
        .orderBy("q_id", "rnk")
    },

    // ROUTED SCATTER-GATHER SERVING — the OTHER distributed-ANN
    // serving shape (st58 routes a query by ITS key; a similarity
    // query's neighbors live anywhere): rank shards by max cosine
    // against each shard's sparse router slice, walk the top-2
    // replicas, exact top-k merge of the partials. The navigation
    // layer bounds the scatter the way production tiers do.
    "st64_scatter_gather_serving" -> { (s, dir) =>
      graft.streaming.Streaming.streamScatterGatherServing(s, dir,
          nShards = 4, probeShards = 2)
        .orderBy("q_id", "rnk")
    })

  // ---------- oracles ----------

  val oracles: Map[String, String] = {
    val tk = toksSql("text")

    // Knuth-mixed hyperplane weights — MUST mirror HyperplaneBucketExpr
    // exactly: w(g, d) = (((g*131071 + d) * 2654435761) % 2^31) % 7 - 3
    // t21: one unrolled fixed-point PageRank iteration per k (DuckDB
    // disallows aggregates in a recursive CTE term; the iteration
    // count is a fixed query parameter anyway)
    val prIters = (iters: Int) => (0 until iters).map { k =>
      s"""i$k AS (SELECT e.dst AS id, sum(r$k.r // e.deg) AS s
         |  FROM e JOIN r$k ON r$k.id = e.src GROUP BY 1),
         |r${k + 1} AS (SELECT nodes.id,
         |    cast((150000000000 // (SELECT nn FROM n)) +
         |      (85 * coalesce(i.s, 0)) // 100 as bigint) AS r
         |  FROM nodes LEFT JOIN i$k i ON i.id = nodes.id)""".stripMargin
    }.mkString(",\n")

    val planeW = (g: Int) =>
      s"((($g*131071 + (i-1)) * 2654435761) % 2147483648) % 7 - 3"
    val s02Projs = (0 until 8).map { j =>
      s"""CASE WHEN list_reduce(list_transform(range(1, 65),
         |  i -> v[i] * cast((${planeW(j)}) as double)),
         |  (a,b) -> a+b) > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")

    // band t of the 4x16 banded signature: bits j are planes t*16+j of
    // the same mixed-lattice hyperplane family s02Projs draws from
    val bandProjs = (t: Int) => (0 until 16).map { j =>
      val g = t * 16 + j
      s"""CASE WHEN list_reduce(list_transform(range(1, 65),
         |  i -> v[i] * cast((${planeW(g)}) as double)),
         |  (a,b) -> a+b) > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")

    val cosSql = (a: String, b: String) =>
      s"""(list_reduce(list_transform(range(1,65), i -> $a[i]*$b[i]), (x,y)->x+y) /
         | (sqrt(list_reduce(list_transform(range(1,65), i -> $a[i]*$a[i]), (x,y)->x+y)) *
         |  sqrt(list_reduce(list_transform(range(1,65), i -> $b[i]*$b[i]),
         |    (x,y)->x+y))))""".stripMargin

    // Fixed-point k-means training replay (ivfTrainCentroidsFp): the
    // `iters` Lloyd rounds unrolled as CTE layers. All arithmetic is
    // integer (commutative sums; `//` truncates exactly like Scala
    // Long division; floor/sqrt are IEEE-exact on these magnitudes),
    // so each round reproduces the Scala trainer bit-for-bit. Assumes
    // |sample| >= nlist (true at every driver scale). Yields a final
    // CTE `cent(c_id, cv)` with integer-valued DOUBLE lists, ready for
    // the s04 cosine probe skeleton. Requires a preceding CTE
    // `e(id, v)` with the double-cast embeddings.
    // renorm + the iters unrolled Lloyd rounds + final `cent` CTE are
    // SHARED between the fixed-nlist k-center replay (ivfFpCentSql) and
    // the corpus-scaled hash-seed replay (scaledCentSql): the rounds are
    // a pure function of `iters` (nlist reaches them only through the
    // number of rows in cent0), so extracting them guarantees the two
    // trainers' SQL can never drift apart.
    def fpRenormSql(sv: String, n2: String) =
      s"""list_transform($sv, x -> (x * 32768)
         |      // cast(floor(sqrt(cast($n2 as double))) as bigint))""".stripMargin
    def fpLloydSql(iters: Int): String = {
      val rounds = (1 to iters).map { i =>
        s"""asg$i AS MATERIALIZED (SELECT pos, qv, c FROM (
           |    SELECT s.pos, s.qv, c.c, row_number() OVER (PARTITION BY s.pos
           |      ORDER BY cast(list_sum(list_transform(range(1, 65),
           |        j -> s.qv[j] * c.cv[j])) as bigint) DESC, c.c ASC) AS rn
           |    FROM smp s, cent${i - 1} c) t WHERE rn = 1),
           |nl$i AS MATERIALIZED (SELECT c, list(sv ORDER BY dim) AS sv FROM (
           |    SELECT c, dim, cast(sum(qv[dim]) as bigint) AS sv
           |    FROM asg$i, (SELECT unnest(range(1, 65)) AS dim) d
           |    GROUP BY c, dim) t GROUP BY c),
           |cent$i AS MATERIALIZED (SELECT p.c,
           |    CASE WHEN q.sv IS NULL OR q.n2 = 0 THEN p.cv
           |         ELSE ${fpRenormSql("q.sv", "q.n2")} END AS cv
           |  FROM cent${i - 1} p LEFT JOIN (
           |    SELECT c, sv,
           |      cast(list_sum(list_transform(sv, x -> x * x)) as bigint) AS n2
           |    FROM nl$i) q USING (c))""".stripMargin
      }.mkString(",\n")
      val fin =
        s"""cent AS MATERIALIZED (SELECT c AS c_id,
           |  list_transform(cv, x -> cast(x as double)) AS cv FROM cent$iters)""".stripMargin
      s"$rounds,\n$fin"
    }
    // shared sample CTEs: hash-ordered ×512-quantized sample positions
    // (smp) and their ‖·‖≈2^15 renormalizations (rp)
    def fpSampleSql(sampleN: Int, src: String = "e"): String =
      s"""smp AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h, id) - 1 AS pos, qv
         |  FROM (SELECT id, (3 * (id % 1000000007) + 8) % 1000000007 AS h,
         |      list_transform(v, x -> cast(floor(x * 512) as bigint)) AS qv
         |    FROM $src ORDER BY h, id LIMIT $sampleN) t),
         |rp AS MATERIALIZED (SELECT pos, qv,
         |    CASE WHEN n2 = 0 THEN qv ELSE ${fpRenormSql("qv", "n2")} END AS rv
         |  FROM (SELECT pos, qv,
         |      cast(list_sum(list_transform(qv, x -> x * x)) as bigint) AS n2
         |    FROM smp) t)""".stripMargin

    def ivfFpCentSql(nlist: Int, iters: Int, sampleN: Int): String = {
      val dot = (a: String, b: String) =>
        s"""cast(list_sum(list_transform(range(1, 65),
           |        j -> $a[j] * $b[j])) as bigint)""".stripMargin
      // farthest-point seeding: rp = points renormalized to ‖·‖≈2^15,
      // seed 0 = hash-order first; each round keeps the running
      // max-dot-to-seeds and picks its argmin (ties → lowest pos)
      val seedRounds = (1 until nlist).map { r =>
        s"""md$r AS MATERIALIZED (SELECT m.pos, m.qv, m.rv,
           |    greatest(m.md, ${dot("m.rv", "s.rv")}) AS md
           |  FROM md${r - 1} m, sd${r - 1} s),
           |sd$r AS MATERIALIZED (SELECT pos, rv FROM md$r
           |  ORDER BY md ASC, pos ASC LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val seedUnion = (0 until nlist)
        .map(r => s"SELECT $r AS c, rv AS cv FROM sd$r")
        .mkString("\n  UNION ALL ")
      val head =
        s"""${fpSampleSql(sampleN)},
           |md0 AS MATERIALIZED (SELECT pos, qv, rv,
           |    cast(-9223372036854775807 - 1 as bigint) AS md FROM rp),
           |sd0 AS MATERIALIZED (SELECT pos, rv FROM rp WHERE pos = 0),
           |$seedRounds,
           |cent0 AS MATERIALIZED (
           |  $seedUnion)""".stripMargin
      s"$head,\n${fpLloydSql(iters)}"
    }

    // CORPUS-SCALED trainer replay (ivfTrainCentroidsFp hashSeed=true
    // + knnGraphScaledFp's derived geometry): nlist and the super-cell
    // count are RUNTIME values derived from count(*) — hash-order
    // seeding needs one `pos < nl` filter where the k-center pass
    // needs nlist-1 unrolled seed rounds. Emits `params(nl)` (nlist =
    // greatest(32, ceil(n/targetList))), `pns(ns)` (ns = ceil(sqrt(
    // min(nl, |sample|)))), and the final `cent(c_id, cv)` via the
    // SHARED Lloyd rounds. Requires a preceding CTE `e(id, v)`.
    def scaledCentSql(iters: Int, sampleN: Int, targetList: Int,
        src: String = "e"): String =
      s"""params AS (SELECT greatest(32,
         |    cast(ceil(count(*) / $targetList.0) as bigint)) AS nl FROM $src),
         |${fpSampleSql(sampleN, src)},
         |pns AS (SELECT cast(ceil(sqrt(cast(least((SELECT nl FROM params),
         |    (SELECT count(*) FROM smp)) as double))) as bigint) AS ns),
         |cent0 AS MATERIALIZED (SELECT pos AS c, rv AS cv FROM rp
         |  WHERE pos < (SELECT nl FROM params)),
         |${fpLloydSql(iters)}""".stripMargin

    // CORPUS-SCALED two-level routing replay (Similarity.twoLevelRouted
    // over firstNsSuperTable): supers = the first ns trained centroids,
    // per-centroid super assignment by argmax integer dot (ties → low
    // s_id), per-row top-superProbe supers then top-nprobe centroids
    // within the probed super cells (cos desc, id asc — the board tie
    // rule). Emits `asg(n_id, n_vec, c_id)` (the hard assignment) and
    // `probe(q_id, q_vec, c_id)`. Requires `e`, `cent`, `pns`. `src`
    // restricts the ROUTED rows (s42's survivors-only rebuild) while
    // training stays whatever built `cent`.
    def scaledRoutingSql(nprobe: Int, superProbe: Int,
        src: String = "e"): String = {
      val sdot = (a: String, b: String) =>
        s"""cast(list_sum(list_transform(range(1, 65),
           |        j -> $a[j] * $b[j])) as bigint)""".stripMargin
      s"""supers AS MATERIALIZED (SELECT c_id AS s_id, cv AS s_vec FROM cent
         |  WHERE c_id < (SELECT ns FROM pns)),
         |sasg AS MATERIALIZED (SELECT c_id, cv, s_id FROM (
         |    SELECT c.c_id, c.cv, s.s_id,
         |      row_number() OVER (PARTITION BY c.c_id
         |        ORDER BY ${sdot("c.cv", "s.s_vec")} DESC, s.s_id ASC) AS rn
         |    FROM cent c, supers s) t WHERE rn = 1),
         |rsup AS MATERIALIZED (SELECT id, v, s_id FROM (
         |    SELECT e.id, e.v, s.s_id,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "s.s_vec")} DESC, s.s_id ASC) AS rn
         |    FROM $src e, supers s) t WHERE rn <= $superProbe),
         |asg AS MATERIALIZED (
         |  SELECT id AS n_id, v AS n_vec, c_id FROM (
         |    SELECT r.id, r.v, a.c_id,
         |      row_number() OVER (PARTITION BY r.id
         |        ORDER BY ${cosSql("r.v", "a.cv")} DESC, a.c_id ASC) AS rn
         |    FROM rsup r JOIN sasg a ON a.s_id = r.s_id) t WHERE rn = 1),
         |probe AS MATERIALIZED (
         |  SELECT q_id, q_vec, c_id FROM (
         |    SELECT r.id AS q_id, r.v AS q_vec, a.c_id,
         |      row_number() OVER (PARTITION BY r.id
         |        ORDER BY ${cosSql("r.v", "a.cv")} DESC, a.c_id ASC) AS rn
         |    FROM rsup r JOIN sasg a ON a.s_id = r.s_id) t WHERE rn <= $nprobe)""".stripMargin
    }

    // full prelude for the scaled graph family: embeddings, derived
    // geometry, hash-seed training, two-level routing. Rows append
    // their readout tail (top-k rank / mutual+CC / margins / PQ chain).
    // `trainFilter` restricts TRAINING (geometry derivation + the Lloyd
    // sample) to a base subset while routing still covers all of `e` —
    // the frozen-quantizer spelling d26's batch-rebuild oracle needs.
    // `routeFilter` is the opposite restriction: training/geometry
    // over all of `e` but only the surviving rows routed — the
    // tombstone-rebuild spelling s42's oracle needs.
    def scaledGraphPreludeSql(recursive: Boolean = false,
        trainFilter: String = "", routeFilter: String = "",
        eFilter: String = ""): String = {
      val (baseCte, src) =
        if (trainFilter.isEmpty) ("", "e")
        else (s",\neb AS (SELECT id, v FROM e WHERE $trainFilter)", "eb")
      val (routeCte, routeSrc) =
        if (routeFilter.isEmpty) ("", "e")
        else (s",\ner AS (SELECT id, v FROM e WHERE $routeFilter)", "er")
      // eFilter restricts the CORPUS itself (st58's shard-local build:
      // geometry, training, routing, scoring all see one shard only)
      val eWhere = if (eFilter.isEmpty) "" else s"\n  WHERE $eFilter"
      s"""WITH ${if (recursive) "RECURSIVE " else ""}e AS (SELECT vec_id AS id,
         |  list_transform(embedding, x -> cast(x as double)) AS v
         |  FROM embeddings$eWhere)$baseCte$routeCte,
         |${scaledCentSql(iters = 10, sampleN = 4096, targetList = 64, src = src)},
         |${scaledRoutingSql(nprobe = 4, superProbe = 3, src = routeSrc)}""".stripMargin
    }

    // st58/st60 share the SHARDED serving replay: one full shard-local
    // graphAnnReplaySql block per rendezvous shard — the corpus CTE
    // restricted to the shard (geometry, training, routing, graph,
    // seeds, scoring all shard-local), the query side restricted to
    // the arrivals whose OWN key routes there — unioned. `scoreMask`
    // (st60) masks each shard's scoring table by the takedown set.
    def shardedServingReplaySql(nSh: Int, scoreMask: String = ""): String =
      (0 until nSh).map { sh =>
        val qs = s"""SELECT vec_id + 100000 AS q_id,
             |  list_transform(embedding, x -> cast(x as double)) AS q_vec
             |  FROM embeddings
             |  WHERE ${graft.operators.Mixture
                .rendezvousShardSql("(vec_id + 100000)", nSh)} = $sh"""
          .stripMargin
        s"""SELECT q_id, cast($sh as bigint) AS shard, rnk, n_id, cos_sim FROM (
           |${graphAnnReplaySql(qs, scoreMask = scoreMask, eFilter =
              s"${graft.operators.Mixture.rendezvousShardSql("vec_id", nSh)} = $sh")}
           |)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY q_id, rnk")

    // st62: the resize replay — kTo arms, queries routed under the NEW
    // layout. Old shards (sh < kFrom) build their graph over the
    // kFrom slice (the stored asset's corpus — movers included) but
    // SCORE over the kTo slice (movers masked: cannot seed, hold a
    // beam slot, or be returned); new shards build and score over
    // their kTo mover sliver. HRW makes both filters consistent: for
    // sh < kFrom the kTo slice is a subset of the kFrom slice.
    def shardedResizeReplaySql(kFrom: Int, kTo: Int): String =
      (0 until kTo).map { sh =>
        val qs = s"""SELECT vec_id + 100000 AS q_id,
             |  list_transform(embedding, x -> cast(x as double)) AS q_vec
             |  FROM embeddings
             |  WHERE ${graft.operators.Mixture
                .rendezvousShardSql("(vec_id + 100000)", kTo)} = $sh"""
          .stripMargin
        val (eF, mask) =
          if (sh < kFrom)
            (s"${graft.operators.Mixture.rendezvousShardSql("vec_id", kFrom)} = $sh",
             s"${graft.operators.Mixture.rendezvousShardSql("id", kTo)} = $sh")
          else
            (s"${graft.operators.Mixture.rendezvousShardSql("vec_id", kTo)} = $sh",
             "")
        s"""SELECT q_id, cast($sh as bigint) AS shard, rnk, n_id, cos_sim FROM (
           |${graphAnnReplaySql(qs, scoreMask = mask, eFilter = eF)}
           |)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY q_id, rnk")

    // st63: the failover replay — the fleet loses its NEWEST member
    // (kFrom → kFrom−1; HRW removal moves ONLY the dead member's keys,
    // and removing the last index IS the (kFrom−1)-layout). Each
    // surviving shard scores over its kTo slice (its own keys + the
    // gained orphans), but the graph is built over its kFrom slice
    // (the stored asset predates the failover — trainFilter +
    // routeFilter both pinned to the old layout), and the gained
    // keys — graph orphans until recompaction — are OR-widened into
    // the seed layer so they stay findable.
    def shardedFailoverReplaySql(kFrom: Int): String = {
      val kTo = kFrom - 1
      (0 until kTo).map { sh =>
        val qs = s"""SELECT vec_id + 100000 AS q_id,
             |  list_transform(embedding, x -> cast(x as double)) AS q_vec
             |  FROM embeddings
             |  WHERE ${graft.operators.Mixture
                .rendezvousShardSql("(vec_id + 100000)", kTo)} = $sh"""
          .stripMargin
        val oldSlice =
          s"${graft.operators.Mixture.rendezvousShardSql("id", kFrom)} = $sh"
        s"""SELECT q_id, cast($sh as bigint) AS shard, rnk, n_id, cos_sim FROM (
           |${graphAnnReplaySql(qs,
              eFilter =
                s"${graft.operators.Mixture.rendezvousShardSql("vec_id", kTo)} = $sh",
              trainFilter = oldSlice, routeFilter = oldSlice,
              seedExtra = s"${graft.operators.Mixture
                .rendezvousShardSql("e.id", kFrom)} = ${kFrom - 1}")}
           |)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY q_id, rnk")
    }

    // st64: the routed scatter-gather replay — every query ranks all
    // shards by max cosine against the shard's sparse router slice
    // (vec_id % routerMod — the navigation level above the walk
    // seeds; ties → low shard), walks the top-m shards' replicas
    // (st58's shard-local build+walk arms), and the gather is the
    // exact top-k merge of the partials by (rounded cos DESC, id ASC).
    def scatterGatherReplaySql(nSh: Int, m: Int, routerMod: Int,
        k: Int, qIdSql: String = "vec_id + 100000",
        qWhere: String = ""): String = {
      val shardOf = (id: String) =>
        graft.operators.Mixture.rendezvousShardSql(id, nSh)
      val qT = "list_transform(q.embedding, x -> cast(x as double))"
      val sT = "list_transform(s.embedding, x -> cast(x as double))"
      val qW = if (qWhere.isEmpty) "" else s" WHERE $qWhere"
      val qWq = if (qWhere.isEmpty) "" else s" AND q.$qWhere"
      val arms = (0 until nSh).map { sh =>
        val qs = s"""SELECT qq.q_id, qq.q_vec FROM
             |  (SELECT $qIdSql AS q_id,
             |     list_transform(embedding, x -> cast(x as double)) AS q_vec
             |   FROM embeddings$qW) qq
             |  JOIN (SELECT q_id FROM (
             |      SELECT q_id, sh,
             |        row_number() OVER (PARTITION BY q_id
             |          ORDER BY score DESC, sh ASC) AS srn
             |      FROM (SELECT q_id, sh, max(c) AS score FROM (
             |          SELECT q.$qIdSql AS q_id,
             |            ${shardOf("s.vec_id")} AS sh,
             |            ${cosSql(qT, sT)} AS c
             |          FROM embeddings q JOIN embeddings s
             |            ON s.vec_id % $routerMod = 0$qWq) p
             |        WHERE NOT isnan(c) GROUP BY 1, 2) g) r
             |    WHERE srn <= $m AND sh = $sh) rt ON rt.q_id = qq.q_id"""
          .stripMargin
        s"""SELECT q_id, cast($sh as bigint) AS shard, n_id, cos_sim FROM (
           |${graphAnnReplaySql(qs, eFilter = s"${shardOf("vec_id")} = $sh")}
           |)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "")
      s"""SELECT q_id, rnk, n_id, cos_sim, shard FROM (
         |  SELECT q_id, shard, n_id, cos_sim,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, n_id ASC) AS rnk
         |  FROM ($arms) u) t
         |WHERE rnk <= $k""".stripMargin
    }

    // s48: the scatter-breadth recall frontier — for each probeShards
    // arm the merged scatter-gather set hit-joins brute-force truth
    // (s36's eval convention: integer hit counts, one double division)
    def scatterRecallSql(nSh: Int, ms: Seq[Int], routerMod: Int,
        k: Int): String = {
      val armSelects = ms.map { m =>
        val merged = scatterGatherReplaySql(nSh, m, routerMod, k,
          qIdSql = "vec_id", qWhere = "vec_id < 5")
        s"""SELECT cast($m as bigint) AS probe_shards,
           |  cast($k as bigint) AS k,
           |  (SELECT n FROM nq) AS n_queries,
           |  (SELECT count(*) FROM (
           |$merged
           |  ) g JOIN truth t ON t.q_id = g.q_id AND t.n_id = g.n_id)
           |    AS n_hits""".stripMargin
      }.mkString("", "\nUNION ALL\n", "")
      s"""WITH e2 AS (SELECT vec_id AS id,
         |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
         |qs2 AS (SELECT id AS q_id, v AS q_vec FROM e2 WHERE id < 5),
         |truth AS (SELECT q_id, n_id FROM (
         |  SELECT qq.q_id, e.id AS n_id,
         |    row_number() OVER (PARTITION BY qq.q_id
         |      ORDER BY ${cosSql("qq.q_vec", "e.v")} DESC, e.id ASC) AS rn
         |  FROM qs2 qq JOIN e2 e ON e.id <> qq.q_id) t WHERE rn <= $k),
         |nq AS (SELECT count(*) AS n FROM qs2)
         |SELECT probe_shards, k, n_queries, n_hits,
         |  round(n_hits / (n_queries * $k.0), 6) AS recall
         |FROM ($armSelects) f
         |ORDER BY probe_shards""".stripMargin
    }

    // st53/st61 share the upsert-intent replay: the frozen
    // corpus-scaled build, its stored top-5 thresholds, the arriving
    // (+100000) shard routed through the SAME frozen tables, and both
    // intent arms. `nOwners` (st61) labels every intent with its CELL
    // owner (rendezvous of c_id) and ranks new_topk WITHIN the owner —
    // the per-owner partial spelling of the cell-sharded serving tier.
    // the CTE prelude shared by st53/st61 (intent replay) and s49 (the
    // application): frozen build, ranked base `knn` (rn kept), stored
    // thresholds, arriving routing, and both intent arms newtop/ups
    def upsertIntentPreludeSql(nOwners: Option[Int]): String = {
      val owner = (cid: String) => nOwners
        .map(k => graft.operators.Mixture.rendezvousShardSql(cid, k))
      val ntOwner = owner("a.c_id")
      val upOwner = owner("aN.c_id")
      val ownSel = ntOwner.map(o => s"$o AS owner,").getOrElse("")
      val ownPart = ntOwner.map(o => s", $o").getOrElse("")
      val ownCol = if (nOwners.isDefined) "owner, " else ""
      val newtopRank =
        s"""SELECT p.id AS q_id, $ownSel a.n_id,
           |      round(${cosSql("p.v", "a.n_vec")}, 6) AS cos_sim,
           |      row_number() OVER (PARTITION BY p.id$ownPart
           |        ORDER BY ${cosSql("p.v", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |    FROM probeN p JOIN asg a ON a.c_id = p.c_id""".stripMargin
      s"""${scaledGraphPreludeSql()},
         |knn AS MATERIALIZED (SELECT q_id, n_id, cos_sim, rn FROM (
         |  SELECT p.q_id, a.n_id, round(${cosSql("p.q_vec", "a.n_vec")}, 6) AS cos_sim,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
         |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
         |WHERE rn <= 5),
         |thr AS (SELECT q_id, min(cos_sim) AS t, count(*) AS c
         |  FROM knn GROUP BY 1),
         |arr AS (SELECT id + 100000 AS id, v FROM e),
         |rsupN AS (SELECT id, v, s_id FROM (
         |    SELECT a.id, a.v, s.s_id,
         |      row_number() OVER (PARTITION BY a.id
         |        ORDER BY ${cosSql("a.v", "s.s_vec")} DESC, s.s_id ASC) AS rn
         |    FROM arr a, supers s) t WHERE rn <= 3),
         |rnkN AS (SELECT id, v, c_id, rn FROM (
         |    SELECT r.id, r.v, a.c_id,
         |      row_number() OVER (PARTITION BY r.id
         |        ORDER BY ${cosSql("r.v", "a.cv")} DESC, a.c_id ASC) AS rn
         |    FROM rsupN r JOIN sasg a ON a.s_id = r.s_id) t WHERE rn <= 4),
         |probeN AS (SELECT id, v, c_id FROM rnkN),
         |asgN AS (SELECT id AS n_id, v AS n_vec, c_id FROM rnkN WHERE rn = 1),
         |newtop AS (SELECT q_id, ${ownCol}n_id, rn, cos_sim FROM (
         |  $newtopRank) t WHERE rn <= 5),
         |ups AS (SELECT p.q_id, ${upOwner.map(o => s"$o AS owner,").getOrElse("")} aN.n_id,
         |    round(${cosSql("p.q_vec", "aN.n_vec")}, 6) AS cos_sim
         |  FROM probe p JOIN asgN aN ON aN.c_id = p.c_id
         |  LEFT JOIN thr t ON t.q_id = p.q_id
         |  WHERE t.q_id IS NULL OR t.c < 5
         |    OR round(${cosSql("p.q_vec", "aN.n_vec")}, 6) > t.t)""".stripMargin
    }

    def graphUpsertReplaySql(nOwners: Option[Int]): String = {
      val ownCol = if (nOwners.isDefined) "owner, " else ""
      s"""${upsertIntentPreludeSql(nOwners)}
         |SELECT kind, ${ownCol}q_id, n_id, rnk, cos_sim FROM (
         |  SELECT 'new_topk' AS kind, ${ownCol}q_id, n_id,
         |    cast(rn as bigint) AS rnk, cos_sim FROM newtop
         |  UNION ALL
         |  SELECT 'upsert' AS kind, ${ownCol}q_id, n_id,
         |    cast(NULL as bigint) AS rnk, cos_sim FROM ups) u
         |ORDER BY kind, ${ownCol}q_id, n_id""".stripMargin
    }

    // s49: the application of the intent log against the ranked base —
    // keep / re-rank / adopt, all over the stored ROUNDED readouts.
    // The CTE block is shared with s50's generation-serving oracle
    // (which walks the applied table instead of dumping it).
    def upsertApplyCtesSql: String =
      s"""aff AS (SELECT DISTINCT q_id FROM ups),
         |keep AS (SELECT q_id, cast(rn as bigint) AS rnk, n_id, cos_sim
         |  FROM knn WHERE q_id NOT IN (SELECT q_id FROM aff)),
         |rer AS (SELECT q_id, rnk, n_id, cos_sim FROM (
         |  SELECT q_id, n_id, cos_sim,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, n_id ASC) AS rnk FROM (
         |    SELECT k.q_id, k.n_id, k.cos_sim FROM knn k
         |      JOIN aff a ON a.q_id = k.q_id
         |    UNION ALL SELECT q_id, n_id, cos_sim FROM ups) u) r
         |  WHERE rnk <= 5),
         |nw AS (SELECT q_id, cast(rn as bigint) AS rnk, n_id, cos_sim
         |  FROM newtop)""".stripMargin

    def upsertApplySql: String =
      s"""${upsertIntentPreludeSql(None)},
         |${upsertApplyCtesSql}
         |SELECT q_id, cast(rnk as bigint) AS rnk, n_id, cos_sim FROM (
         |  SELECT * FROM keep UNION ALL SELECT * FROM rer
         |  UNION ALL SELECT * FROM nw) f
         |ORDER BY q_id, rnk""".stripMargin

    // s50: GENERATION-ROUTED SERVING — replay the frozen build, every
    // intent, the application (the gen-2 table s49 publishes), then
    // WALK that applied graph for the benchmark queries: the applied
    // top-5 edges (undirected) are the navigation structure, and the
    // scoring corpus is base ∪ arrivals (the gen-2 node set). One
    // spelling with every other serving oracle via [[beamWalkSql]].
    // `scoreMask` is s51's takedown arm (s43's contract on the routed
    // generation): the graph CTEs are untouched, only the scoring
    // view shrinks — +100000 preserves mod-10, so `id % 10 <> 3`
    // masks the notices' documents AND their re-uploaded arrivals,
    // matching the engine's explicit del ∪ (del+100000) mask list.
    def generationServingReplaySql(scoreMask: String = ""): String = {
      val (maskCte, sv) =
        if (scoreMask.isEmpty) ("", "ev")
        else (s",\nmsv AS (SELECT id, v FROM ev WHERE $scoreMask)", "msv")
      s"""${upsertIntentPreludeSql(None)},
         |${upsertApplyCtesSql},
         |gen2 AS MATERIALIZED (
         |  SELECT q_id, n_id FROM keep
         |  UNION ALL SELECT q_id, n_id FROM rer
         |  UNION ALL SELECT q_id, n_id FROM nw),
         |knnu AS MATERIALIZED (SELECT DISTINCT q_id, n_id FROM (
         |  SELECT q_id, n_id FROM gen2
         |  UNION ALL SELECT n_id, q_id FROM gen2) t),
         |ev AS (SELECT id, v FROM e UNION ALL SELECT id, v FROM arr)$maskCte,
         |${beamWalkSql("SELECT id AS q_id, v AS q_vec FROM e WHERE id < 5",
             sv, "e.id % 64 = 0")}""".stripMargin
    }

    // the standalone ranked top-5 graph replay (st54's knn CTE as a
    // full query): the s30-shaped published asset; `routeFilter` is
    // s42's survivors-only spelling — shared by s45's generation
    // counts so manifest truth can never drift from the family's own
    // replays
    def rankedKnnReplaySql(routeFilter: String = ""): String =
      s"""${scaledGraphPreludeSql(routeFilter = routeFilter)}
         |SELECT q_id, n_id, rn AS rnk, cos_sim FROM (
         |  SELECT p.q_id, a.n_id, round(${cosSql("p.q_vec", "a.n_vec")}, 6) AS cos_sim,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
         |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
         |WHERE rn <= 5""".stripMargin

    // s35 / st50 share the graph-ANN beam-search replay (corpus-scaled
    // two-level build: count-derived nlist, hash-seed training, both
    // routing levels; degree-10 undirected graph, id%64 seed layer,
    // three expand-dedup-exact-score-prune rounds); `qsSql` is the
    // query CTE body (s35: the 5 benchmark corpus queries; st50: the
    // +100000 arriving shard)
    def graphAnnReplaySql(qsSql: String, scoreMask: String = "",
        trainFilter: String = "", eFilter: String = "",
        routeFilter: String = "", seedExtra: String = ""): String = {
      // the SERVING-side scoring table: `scoreMask` (s43) removes
      // tombstoned ids from seeds, every beam, and the final read —
      // the graph asset (knn/knnu, built over full `e`) is unchanged.
      // `trainFilter` (s44) freezes training/geometry on the base
      // subset while routing covers everyone — the d26-maintained
      // asset's replay spelling. `eFilter` (st58) restricts the whole
      // corpus to one rendezvous shard — the shard-local build+serve.
      // `routeFilter` together with the same `trainFilter` replays a
      // stored asset built over a SUBSET of the scoring corpus (st63:
      // the failed-over shard scores its gained keys against an asset
      // that predates them); `seedExtra` OR-widens the seed layer so
      // those graph-orphan keys stay findable before recompaction.
      val (maskCte, sv) =
        if (scoreMask.isEmpty) ("", "e")
        else (s",\nms AS (SELECT id, v FROM e WHERE $scoreMask)", "ms")
      val seedCond =
        if (seedExtra.isEmpty) "e.id % 64 = 0"
        else s"(e.id % 64 = 0 OR $seedExtra)"
      s"""${scaledGraphPreludeSql(trainFilter = trainFilter,
             routeFilter = routeFilter, eFilter = eFilter)}$maskCte,
           |knn AS MATERIALIZED (SELECT q_id, n_id FROM (
           |  SELECT p.q_id, a.n_id,
           |    row_number() OVER (PARTITION BY p.q_id
           |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
           |WHERE rn <= 10),
           |knnu AS MATERIALIZED (SELECT DISTINCT q_id, n_id FROM (
           |  SELECT q_id, n_id FROM knn
           |  UNION ALL SELECT n_id, q_id FROM knn) t),
           |${beamWalkSql(qsSql, sv, seedCond)}""".stripMargin
    }

    /** The beam-walk replay itself (seed top-16 from the `seedCond`
      * layer, three expand-via-`knnu`/dedup/exact-score/prune-to-16
      * rounds, final top-5) — extracted so every serving oracle walks
      * with ONE spelling: `graphAnnReplaySql` supplies the freshly
      * replayed degree-10 graph, s50's generation oracle supplies the
      * gen-2 applied asset as `knnu`, both score against `sv`.
      */
    def beamWalkSql(qsSql: String, sv: String, seedCond: String): String =
      s"""qs AS ($qsSql),
           |s0 AS (SELECT q_id, n_id FROM (
           |  SELECT qq.q_id, e.id AS n_id,
           |    row_number() OVER (PARTITION BY qq.q_id
           |      ORDER BY ${cosSql("qq.q_vec", "e.v")} DESC, e.id ASC) AS rn
           |  FROM qs qq JOIN $sv e ON $seedCond AND e.id <> qq.q_id) t
           |  WHERE rn <= 16),
           |c1 AS (SELECT DISTINCT q_id, n_id FROM (
           |  SELECT q_id, n_id FROM s0
           |  UNION ALL SELECT s0.q_id, knnu.n_id FROM s0
           |    JOIN knnu ON knnu.q_id = s0.n_id) t
           |  WHERE n_id <> q_id),
           |s1 AS (SELECT q_id, n_id FROM (
           |  SELECT c.q_id, c.n_id,
           |    row_number() OVER (PARTITION BY c.q_id
           |      ORDER BY ${cosSql("qq.q_vec", "e.v")} DESC, c.n_id ASC) AS rn
           |  FROM c1 c JOIN qs qq ON qq.q_id = c.q_id JOIN $sv e ON e.id = c.n_id) t
           |  WHERE rn <= 16),
           |c2 AS (SELECT DISTINCT q_id, n_id FROM (
           |  SELECT q_id, n_id FROM s1
           |  UNION ALL SELECT s1.q_id, knnu.n_id FROM s1
           |    JOIN knnu ON knnu.q_id = s1.n_id) t
           |  WHERE n_id <> q_id),
           |s2 AS (SELECT q_id, n_id FROM (
           |  SELECT c.q_id, c.n_id,
           |    row_number() OVER (PARTITION BY c.q_id
           |      ORDER BY ${cosSql("qq.q_vec", "e.v")} DESC, c.n_id ASC) AS rn
           |  FROM c2 c JOIN qs qq ON qq.q_id = c.q_id JOIN $sv e ON e.id = c.n_id) t
           |  WHERE rn <= 16),
           |c3 AS (SELECT DISTINCT q_id, n_id FROM (
           |  SELECT q_id, n_id FROM s2
           |  UNION ALL SELECT s2.q_id, knnu.n_id FROM s2
           |    JOIN knnu ON knnu.q_id = s2.n_id) t
           |  WHERE n_id <> q_id)
           |SELECT q_id, rn AS rnk, n_id, cos_sim FROM (
           |  SELECT c.q_id, c.n_id,
           |    round(${cosSql("qq.q_vec", "e.v")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY c.q_id
           |      ORDER BY ${cosSql("qq.q_vec", "e.v")} DESC, c.n_id ASC) AS rn
           |  FROM c3 c JOIN qs qq ON qq.q_id = c.q_id JOIN $sv e ON e.id = c.n_id) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin

    // s24 / s38 share the FULLY-TRAINED residual IVFxPQ replay
    // (trained coarse quantizer, integer-Lloyd residual codebook,
    // encode, probe, integer ADC, exact-integer rerank); `probeWhere`
    // bounds the query side (s24: the 5 benchmark queries; s38: empty
    // — every corpus vector, the big-big k-NN-graph build)
    // the ×2^12 residual transform vs a list centroid — shared by every
    // PQ-graph replay spelling
    val pqQresT = (v: String, cv: String) =>
      s"""list_transform(range(1, 65),
         |      i -> cast(floor(($v[i] - $cv[i] / 32768.0) * 4096.0) as bigint))""".stripMargin

    /** Shared PQ-graph chain: residual codebook training (integer
      * Lloyd on the hash-sample), encoding, per-(q, list) LUTs, ADC
      * top-40, exact-integer rerank. `head` supplies everything up to
      * (and including) the routing; `asgqBody`/`probeqBody` define the
      * per-neighbor and per-(query, probed-list) residual CTEs — the
      * only parts that differ between the flat (s24) and corpus-scaled
      * (s38) routings. Keeping the chain single-sourced means the two
      * replays can never drift apart.
      */
    def pqGraphChainSql(head: String, asgqBody: String,
        probeqBody: String, candBudget: Int = 40,
        finalSql: Option[String] = None): String = {
      val iters = 10
      val d2 = (a: String, b: String) =>
        s"""cast(list_sum(list_transform(range(1, 9),
           |        i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) as bigint)""".stripMargin
      val cbRounds = (1 to iters).map { i =>
        s"""pa$i AS MATERIALIZED (SELECT pos, j, sl, cw FROM (
           |    SELECT s.pos, s.j, s.sl, c.cw,
           |      row_number() OVER (PARTITION BY s.pos, s.j
           |        ORDER BY ${d2("s.sl", "c.cv")} ASC, c.cw ASC) AS rn
           |    FROM rsl s JOIN cb${i - 1} c ON c.j = s.j) t WHERE rn = 1),
           |cb$i AS MATERIALIZED (SELECT p.j, p.cw,
           |    CASE WHEN q.sv IS NULL THEN p.cv ELSE q.sv END AS cv
           |  FROM cb${i - 1} p LEFT JOIN (
           |    SELECT j, cw, list(sv ORDER BY dim) AS sv FROM (
           |      SELECT j, cw, dim,
           |        cast(sum(sl[dim]) as bigint) // count(*) AS sv
           |      FROM pa$i, (SELECT unnest(range(1, 9)) AS dim) dd
           |      GROUP BY j, cw, dim) t GROUP BY j, cw) q USING (j, cw))""".stripMargin
      }.mkString(",\n")
      s"""$head,
         |asgq AS MATERIALIZED ($asgqBody),
         |rs AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h, n_id) - 1 AS pos, qres
         |  FROM (SELECT n_id, (3 * (n_id % 1000000007) + 8) % 1000000007 AS h, qres
         |    FROM asgq ORDER BY h, n_id LIMIT 4096) t),
         |rn_ AS (SELECT count(*) AS n FROM rs),
         |rsl AS MATERIALIZED (SELECT pos, j,
         |    list_transform(range(1, 9), i -> qres[j * 8 + i]) AS sl
         |  FROM rs, (SELECT unnest(range(0, 8)) AS j) jj),
         |cb0 AS MATERIALIZED (SELECT s.j, c.cw, s.sl AS cv
         |  FROM (SELECT unnest(range(0, 32)) AS cw) c
         |  JOIN rsl s ON s.pos = (c.cw * (SELECT n FROM rn_)) // 32),
         |$cbRounds,
         |asl AS MATERIALIZED (SELECT n_id, c_id, j,
         |    list_transform(range(1, 9), i -> qres[j * 8 + i]) AS sl
         |  FROM asgq, (SELECT unnest(range(0, 8)) AS j) jj),
         |codes AS MATERIALIZED (SELECT n_id, c_id, j, cw FROM (
         |    SELECT s.n_id, s.c_id, s.j, c.cw,
         |      row_number() OVER (PARTITION BY s.n_id, s.j
         |        ORDER BY ${d2("s.sl", "c.cv")} ASC, c.cw ASC) AS rn
         |    FROM asl s JOIN cb$iters c ON c.j = s.j) t WHERE rn = 1),
         |probeq AS MATERIALIZED ($probeqBody),
         |lut AS MATERIALIZED (SELECT p.q_id, p.c_id, p.j, c.cw,
         |    ${d2("p.sl", "c.cv")} AS d2
         |  FROM (SELECT q_id, c_id, j,
         |      list_transform(range(1, 9), i -> qres[j * 8 + i]) AS sl
         |    FROM probeq, (SELECT unnest(range(0, 8)) AS j) jj) p
         |  JOIN cb$iters c ON c.j = p.j),
         |cand AS (SELECT q_id, n_id, c_id, adc_fp, crn FROM (
         |  SELECT q_id, n_id, c_id, adc_fp, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc_fp ASC, n_id ASC) AS crn
         |  FROM (SELECT l.q_id, cd.n_id, cd.c_id,
         |      cast(sum(l.d2) as bigint) AS adc_fp
         |    FROM codes cd JOIN lut l
         |      ON l.c_id = cd.c_id AND l.j = cd.j AND l.cw = cd.cw
         |    WHERE cd.n_id <> l.q_id GROUP BY 1, 2, 3) t1) t2
         |  WHERE crn <= $candBudget)
         |${finalSql.getOrElse(
          s"""SELECT q_id, n_id, rn AS rnk, adc_fp, d2_fp FROM (
             |  SELECT c.q_id, c.n_id, c.adc_fp,
             |    cast(list_sum(list_transform(range(1, 65),
             |      i -> (p.qres[i] - a.qres[i]) * (p.qres[i] - a.qres[i])))
             |      as bigint) AS d2_fp,
             |    row_number() OVER (PARTITION BY c.q_id ORDER BY
             |      cast(list_sum(list_transform(range(1, 65),
             |        i -> (p.qres[i] - a.qres[i]) * (p.qres[i] - a.qres[i])))
             |        as bigint) ASC, c.n_id ASC) AS rn
             |  FROM cand c
             |  JOIN probeq p ON p.q_id = c.q_id AND p.c_id = c.c_id
             |  JOIN asgq a ON a.n_id = c.n_id) t3
             |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin)}""".stripMargin
    }

    def ivfPqTrainedReplaySql(probeWhere: String): String =
      pqGraphChainSql(
        head = s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |${ivfFpCentSql(nlist = 32, iters = 10, sampleN = 4096)}""".stripMargin,
        asgqBody = s"""SELECT id AS n_id, c_id,
           |    ${pqQresT("v", "cv")} AS qres
           |  FROM (SELECT e.id, e.v, c.c_id, c.cv,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c) t WHERE rn = 1""".stripMargin,
        probeqBody = s"""SELECT q_id, c_id,
           |    ${pqQresT("v", "cv")} AS qres
           |  FROM (SELECT e.id AS q_id, e.v, c.c_id, c.cv,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c$probeWhere) t WHERE rn <= 4""".stripMargin)

    // s38: the corpus-scaled routing (count-derived nlist/ns, hash-seed
    // training, two-level scan) feeding the SAME PQ chain — residuals
    // are taken vs the assigned/probed list centroids exactly as the
    // operator's qresOf does
    def pqScaledReplaySql(): String =
      pqGraphChainSql(
        head = s"""${scaledGraphPreludeSql()}""",
        asgqBody = s"""SELECT a.n_id, a.c_id,
           |    ${pqQresT("a.n_vec", "c.cv")} AS qres
           |  FROM asg a JOIN cent c ON c.c_id = a.c_id""".stripMargin,
        probeqBody = s"""SELECT p.q_id, p.c_id,
           |    ${pqQresT("p.q_vec", "c.cv")} AS qres
           |  FROM probe p JOIN cent c ON c.c_id = p.c_id""".stripMargin)

    // s15 / s20 share one IVFxPQ ADC replay; `candFilter` is an extra
    // predicate on the candidate rows (filtered-ANN metadata gate)
    def ivfPqOracleSql(candFilter: String): String = {
      val d2 = (a: String, b: String) =>
        s"""list_reduce(list_transform(range(1, 9),
           |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)""".stripMargin
      val adcSum = (0 until 8).map(j =>
        s"sum(CASE WHEN l.j = $j THEN l.d2 END)").mkString(" + ")
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
         |js AS (SELECT unnest(range(0, 8)) AS j),
         |cb AS (SELECT j, id AS c_id, v[j*8+1 : j*8+8] AS cv FROM e, js WHERE id < 32),
         |sub AS (SELECT id, j, v[j*8+1 : j*8+8] AS sv FROM e, js),
         |enc AS (SELECT id AS n_id, j, c_id AS code FROM (
         |    SELECT s.id, s.j, c.c_id, row_number() OVER (PARTITION BY s.id, s.j
         |      ORDER BY ${d2("s.sv", "c.cv")} ASC, c.c_id ASC) AS rn
         |    FROM sub s JOIN cb c ON s.j = c.j) t WHERE rn = 1),
         |cent AS (SELECT id AS c_id, v AS cv FROM e WHERE id < 32),
         |asg AS (SELECT id AS n_id, c_id FROM (
         |    SELECT e.id, c.c_id, row_number() OVER (PARTITION BY e.id
         |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
         |    FROM e, cent c) t WHERE rn = 1),
         |probe AS (SELECT q_id, c_id FROM (
         |    SELECT e.id AS q_id, c.c_id, row_number() OVER (PARTITION BY e.id
         |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
         |    FROM e, cent c WHERE e.id < 5) t WHERE rn <= 4),
         |lut AS (SELECT s.id AS q_id, c.j, c.c_id, ${d2("s.sv", "c.cv")} AS d2
         |  FROM sub s JOIN cb c ON s.j = c.j WHERE s.id < 5),
         |adc AS (SELECT l.q_id, en.n_id, $adcSum AS adc
         |  FROM enc en
         |  JOIN asg a ON a.n_id = en.n_id
         |  JOIN probe p ON p.c_id = a.c_id
         |  JOIN lut l ON l.q_id = p.q_id AND l.j = en.j AND l.c_id = en.code
         |  WHERE en.n_id <> l.q_id$candFilter GROUP BY 1, 2)
         |SELECT q_id, n_id, rn AS rnk, round(adc, 6) AS adc_d2 FROM (
         |  SELECT q_id, n_id, adc, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc ASC, n_id ASC) AS rn FROM adc) t
         |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin
    }

    val m = Map(
      "t01_token_stats" ->
        s"""SELECT doc_id,
           |  cast(len(toks) as bigint) AS n_tokens,
           |  cast(len(list_distinct(toks)) as bigint) AS n_distinct,
           |  cast(length(text) as bigint) AS n_chars,
           |  round(cast(list_reduce(list_transform(toks, t -> cast(length(t) as bigint)),
           |    (a,b) -> a+b) as double) / cast(len(toks) as double), 6) AS mean_token_len
           |FROM (SELECT doc_id, text, $tk AS toks FROM documents) ORDER BY doc_id""".stripMargin,

      // per-row list algebra: k-gram hash list, per-window rightmost-min
      // (max position among minima), distinct positions
      "t07_winnowing" ->
        """WITH d AS (SELECT doc_id,
          |    list_transform(string_split(text, ''), c -> cast(ascii(c) as bigint)) AS codes
          |  FROM documents),
          |h AS (SELECT doc_id, len(codes) - 5 + 1 AS m,
          |    list_transform(range(1, greatest(len(codes) - 5 + 1, 0) + 1),
          |      i -> list_reduce(codes[i : i + 4], (a, b) -> (a * 31 + b) % 1000000007)) AS hs
          |  FROM d),
          |sel AS (SELECT doc_id, m, hs,
          |    list_distinct(list_transform(range(1, greatest(m - 4 + 1, 1) + 1), s ->
          |      list_aggregate(
          |        list_filter(range(s, s + least(4, m)),
          |          p -> hs[p] = list_aggregate(hs[s : s + least(4, m) - 1], 'min')),
          |        'max'))) AS fpos
          |  FROM h WHERE m > 0)
          |SELECT doc_id, m AS n_kgrams, cast(len(fpos) as bigint) AS n_fingerprints,
          |  cast(list_reduce(list_transform(fpos, p -> hs[p]), (a, b) -> a + b)
          |    as bigint) AS fp_sum
          |FROM sel ORDER BY doc_id""".stripMargin,

      "t06_bpe_tokens" ->
        s"""SELECT doc_id,
           |  cast(len(regexp_extract_all(text,
           |    ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) as bigint) AS n_bpe_tokens,
           |  cast(len($tk) as bigint) AS n_ws_tokens
           |FROM documents ORDER BY doc_id""".stripMargin,

      "t02_lang_profile" ->
        s"""SELECT lang, count(*) AS n_docs,
           |  cast(sum(n_chars) as bigint) AS sum_chars,
           |  cast(sum(${stopHitsSql(tk)}) as bigint) AS stop_hits,
           |  cast(sum(len($tk)) as bigint) AS n_tokens,
           |  round(cast(sum(${stopHitsSql(tk)}) as double) /
           |        cast(sum(len($tk)) as double), 6) AS stop_ratio
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

      "t03_quality_scores" ->
        s"""SELECT doc_id, cast(n as bigint) AS n_tokens,
           |  round((cast(nd as double) / cast(n as double)) * 0.4 +
           |        least(1.0, cast(n as double) / 100.0) * 0.3 +
           |        (cast(st as double) / cast(n as double)) * 0.3, 6) AS score
           |FROM (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
           |        ${stopHitsSql("toks")} AS st
           |      FROM (SELECT doc_id, $tk AS toks FROM documents))
           |ORDER BY doc_id""".stripMargin,

      "t04_lang_id" ->
        s"""SELECT lang, CASE
           |  WHEN en >= de AND en >= es THEN 'en'
           |  WHEN de >= es THEN 'de' ELSE 'es' END AS guess, count(*) AS n
           |FROM (SELECT lang,
           |  len(list_filter($tk, t -> t in ('the','a','of','and','to','in'))) AS en,
           |  len(list_filter($tk, t -> t in ('der','die','das','und','ist'))) AS de,
           |  len(list_filter($tk, t -> t in ('el','la','de','que','y'))) AS es
           |  FROM documents)
           |GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin,

      // t04's matrix -> per-class P/R/F1, each ONE division from exact
      // integers (F1 = 2tp/(n_pred+n_true), never composed from
      // rounded halves); class set = labels FULL JOIN guesses
      "t36_langid_metrics" ->
        s"""WITH cm AS (SELECT lang, CASE
           |    WHEN en >= de AND en >= es THEN 'en'
           |    WHEN de >= es THEN 'de' ELSE 'es' END AS guess, count(*) AS n
           |  FROM (SELECT lang,
           |    len(list_filter($tk, t -> t in ('the','a','of','and','to','in'))) AS en,
           |    len(list_filter($tk, t -> t in ('der','die','das','und','ist'))) AS de,
           |    len(list_filter($tk, t -> t in ('el','la','de','que','y'))) AS es
           |    FROM documents)
           |  GROUP BY 1, 2),
           |bt AS (SELECT lang AS cls, cast(sum(n) as bigint) AS n_true
           |  FROM cm GROUP BY 1),
           |bp AS (SELECT guess AS cls, cast(sum(n) as bigint) AS n_pred
           |  FROM cm GROUP BY 1),
           |dg AS (SELECT lang AS cls, cast(n as bigint) AS tp FROM cm
           |  WHERE lang = guess),
           |cl AS (SELECT coalesce(bt.cls, bp.cls) AS cls,
           |    coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred
           |  FROM bt FULL JOIN bp ON bp.cls = bt.cls)
           |SELECT cl.cls, coalesce(dg.tp, 0) AS tp, cl.n_pred, cl.n_true,
           |  round(CASE WHEN cl.n_pred > 0
           |    THEN cast(coalesce(dg.tp, 0) as double) / cl.n_pred
           |    ELSE 0.0 END, 6) AS precision,
           |  round(CASE WHEN cl.n_true > 0
           |    THEN cast(coalesce(dg.tp, 0) as double) / cl.n_true
           |    ELSE 0.0 END, 6) AS recall,
           |  round(CASE WHEN cl.n_pred + cl.n_true > 0
           |    THEN cast(coalesce(dg.tp, 0) * 2 as double) / (cl.n_pred + cl.n_true)
           |    ELSE 0.0 END, 6) AS f1
           |FROM cl LEFT JOIN dg ON dg.cls = cl.cls
           |ORDER BY cl.cls""".stripMargin,

      "t37_vocab_growth" ->
        s"""WITH t AS (SELECT doc_id, unnest($tk) AS tok FROM documents),
           |nt AS (SELECT first_doc // 50 AS bucket, count(*) AS new_types
           |  FROM (SELECT tok, min(doc_id) AS first_doc FROM t GROUP BY tok)
           |  GROUP BY 1),
           |vol AS (SELECT doc_id // 50 AS bucket, count(*) AS n_tokens
           |  FROM t GROUP BY 1)
           |SELECT vol.bucket, cast(vol.n_tokens as bigint) AS n_tokens,
           |  cast(coalesce(nt.new_types, 0) as bigint) AS new_types,
           |  cast(sum(vol.n_tokens) OVER (ORDER BY vol.bucket
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
           |    AS cum_tokens,
           |  cast(sum(coalesce(nt.new_types, 0)) OVER (ORDER BY vol.bucket
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
           |    AS cum_types
           |FROM vol LEFT JOIN nt ON nt.bucket = vol.bucket
           |ORDER BY vol.bucket""".stripMargin,

      "t38_collocations" ->
        s"""WITH d AS (SELECT doc_id, $tk AS toks FROM documents),
           |uni AS (SELECT tok, count(*) AS n_tok
           |  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok),
           |bi AS (SELECT tok_a, tok_b, count(*) AS n_pair FROM (
           |    SELECT unnest(toks[1:len(toks)-1]) AS tok_a,
           |           unnest(toks[2:len(toks)]) AS tok_b FROM d)
           |  GROUP BY 1, 2),
           |tot AS (SELECT cast(sum(n_tok) as bigint) AS n_total FROM uni),
           |nbt AS (SELECT cast(sum(n_pair) as bigint) AS nb_total FROM bi)
           |SELECT tok_a, tok_b, n_pair, ua.n_tok AS n_a, ub.n_tok AS n_b,
           |  cast(${Mixture.log2FpSql("n_pair")} + 2*(${Mixture.log2FpSql("n_total")})
           |    - (${Mixture.log2FpSql("nb_total")}) - (${Mixture.log2FpSql("ua.n_tok")})
           |    - (${Mixture.log2FpSql("ub.n_tok")}) as bigint) AS pmi_fp
           |FROM bi JOIN uni ua ON ua.tok = bi.tok_a
           |JOIN uni ub ON ub.tok = bi.tok_b, tot, nbt
           |WHERE n_pair >= 20
           |ORDER BY pmi_fp DESC, tok_a, tok_b LIMIT 100""".stripMargin,

      "t05_fingerprints" ->
        s"""SELECT doc_id, md5(text) AS fp_md5, ${rollSql("text")} AS fp_roll
           |FROM documents ORDER BY doc_id""".stripMargin,

      "t08_train_split" ->
        s"""SELECT lang, ${Mixture.splitColumnSql("doc_id")} AS split,
           |  count(*) AS n_docs, cast(sum(len($tk)) as bigint) AS sum_tokens
           |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

      "t13_stratified_sample" ->
        s"""SELECT doc_id, lang FROM documents
           |WHERE ${Mixture.stratifiedSampleSql("lang", "doc_id", T13Rates)}
           |ORDER BY doc_id""".stripMargin,

      "t17_curation_pipeline" ->
        s"""WITH u AS (SELECT doc_id, text, lang FROM documents
           |    UNION ALL SELECT doc_id + 100000, text, lang FROM documents),
           |mt AS (SELECT doc_id, text, lang, toks, len(toks) AS n,
           |    cast(list_reduce(list_transform(toks, t -> cast(length(t) as bigint)),
           |      (a,b) -> a+b) as double) / len(toks) AS mwl,
           |    cast(len(list_distinct(toks)) as double) / len(toks) AS div,
           |    ${stopHitsSql("toks")} AS stop,
           |    cast(list_max(list_transform(list_distinct(toks),
           |      d -> len(list_filter(toks, x -> x = d)))) as double) / len(toks) AS mf
           |  FROM (SELECT doc_id, text, lang, ${toksSql("text")} AS toks FROM u)),
           |k AS (SELECT doc_id, text, lang, toks FROM mt
           |  WHERE n >= 40 AND mwl >= 3.0 AND mwl <= 10.0
           |    AND div >= 0.5 AND stop >= 2 AND mf <= 0.12),
           |c AS (SELECT md5(text) AS fp, min(doc_id) AS doc_id FROM k GROUP BY 1)
           |SELECT k.doc_id, k.lang, ${Mixture.splitColumnSql("k.doc_id")} AS split,
           |  cast(len(k.toks) as bigint) AS n_tokens
           |FROM k JOIN c ON c.doc_id = k.doc_id AND c.fp = md5(k.text)
           |ORDER BY k.doc_id""".stripMargin,

      // sqrt-temperature mixture rates from exact fixed-point weights;
      // keep-set by the SampleI hash predicate — summary per domain
      "t19_temperature_mix" ->
        s"""WITH ${Mixture.temperatureMixtureSql(
             s"""SELECT source AS domain, cast(doc_id as bigint) AS id,
                |    cast(len($tk) as bigint) AS n_tokens FROM documents""".stripMargin,
             budgetTokens = 26000L)}
           |SELECT domain, count(*) AS n_docs,
           |  cast(sum(n_tokens) as bigint) AS tot_tokens,
           |  round(rate, 6) AS rate,
           |  cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) as bigint) AS n_kept,
           |  cast(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) as bigint) AS kept_tokens
           |FROM v GROUP BY domain, round(rate, 6) ORDER BY domain""".stripMargin,

      "t18_source_triage" ->
        s"""WITH mt AS (SELECT doc_id, source, toks, len(toks) AS n,
           |    cast(list_reduce(list_transform(toks, t -> cast(length(t) as bigint)),
           |      (a,b) -> a+b) as double) / len(toks) AS mwl,
           |    cast(len(list_distinct(toks)) as double) / len(toks) AS div,
           |    len(list_distinct(toks)) AS nd,
           |    ${stopHitsSql("toks")} AS stop,
           |    cast(list_max(list_transform(list_distinct(toks),
           |      d -> len(list_filter(toks, x -> x = d)))) as double) / len(toks) AS mf
           |  FROM (SELECT doc_id, source, $tk AS toks FROM documents)),
           |pd AS (SELECT doc_id, source, n AS n_toks,
           |    CASE WHEN n >= 40 AND mwl >= 3.0 AND mwl <= 10.0 AND div >= 0.5
           |      AND stop >= 2 AND mf <= 0.12 THEN 1 ELSE 0 END AS keep,
           |    cast(round((cast(nd as double) / n) * 0.4 +
           |      least(1.0, cast(n as double) / 100.0) * 0.3 +
           |      (cast(stop as double) / n) * 0.3, 6) as decimal(18,6)) AS score_dec
           |  FROM mt),
           |l AS (SELECT doc_id, unnest(list_transform(range(0,
           |    greatest(cast(ceil(len(toks) / 10.0) as int), 1)),
           |    i -> array_to_string(toks[i*10+1 : i*10+10], ' '))) AS line
           |  FROM (SELECT doc_id, $tk AS toks FROM documents)),
           |ld AS (SELECT doc_id, ${rollSql("line")} AS lh FROM l),
           |p AS (SELECT lh, count(DISTINCT doc_id) AS ndocs FROM ld GROUP BY lh),
           |dl AS (SELECT ld.doc_id, count(*) AS n_lines,
           |    sum(CASE WHEN p.ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup_lines
           |  FROM ld JOIN p USING (lh) GROUP BY ld.doc_id)
           |SELECT pd.source, count(*) AS n_docs,
           |  cast(sum(pd.keep) as bigint) AS n_keep,
           |  round(cast(sum(pd.keep) as double) / count(*), 6) AS keep_rate,
           |  round(cast(sum(pd.score_dec) as double) / count(*), 6) AS mean_score,
           |  cast(sum(pd.n_toks) as bigint) AS sum_tokens,
           |  round(cast(sum(dl.n_dup_lines) as double) / sum(dl.n_lines), 6)
           |    AS dup_line_ratio
           |FROM pd JOIN dl USING (doc_id)
           |GROUP BY pd.source ORDER BY source""".stripMargin,

      "t16_pii_stats" ->
        s"""WITH a AS (SELECT doc_id, text ||
           |  CASE WHEN doc_id % 7 = 0
           |    THEN ' contact u' || doc_id || '@example.com now' ELSE '' END ||
           |  CASE WHEN doc_id % 11 = 0
           |    THEN ' call 555-01' || lpad(cast(doc_id % 100 as varchar), 2, '0') || ' today'
           |    ELSE '' END ||
           |  CASE WHEN doc_id % 13 = 0
           |    THEN ' host 10.0.' || cast(doc_id % 256 as varchar) || '.1 up'
           |    ELSE '' END AS aug
           |  FROM documents)
           |SELECT doc_id,
           |  cast(len(regexp_extract_all(aug, '$PiiEmailRe')) as bigint) AS n_emails,
           |  cast(len(regexp_extract_all(aug, '$PiiPhoneRe')) as bigint) AS n_phones,
           |  cast(len(regexp_extract_all(aug, '$PiiIpRe')) as bigint) AS n_ips,
           |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
           |    '$PiiEmailRe', '<EMAIL>', 'g'),
           |    '$PiiIpRe', '<IP>', 'g'),
           |    '$PiiPhoneRe', '<PHONE>', 'g')) AS redacted_md5
           |FROM a ORDER BY doc_id""".stripMargin,

      // hashed-ngram linear scorer: unigrams + bigrams -> rolling-hash
      // bucket in [0,1024) -> Knuth-multiplicative integer weight;
      // exact bigint sum, one final division
      "t20_linear_quality" ->
        s"""WITH d AS (SELECT doc_id, $tk AS toks FROM documents),
           |f AS (SELECT doc_id, list_concat(toks,
           |    list_transform(range(1, len(toks)),
           |      i -> toks[i] || ' ' || toks[i+1])) AS feats FROM d),
           |b AS (SELECT doc_id, cast(len(feats) as bigint) AS n_feats,
           |    cast(list_sum(list_transform(feats,
           |      ft -> ((${rollSql("ft")}) % 1024) * 2654435761 % 2000003
           |            - 1000001)) as bigint) AS w_sum
           |  FROM f)
           |SELECT doc_id, n_feats, w_sum,
           |  round(cast(w_sum as double) /
           |        (cast(n_feats as double) * 1000001.0), 6) AS score,
           |  cast(CASE WHEN w_sum > 0 THEN 1 ELSE 0 END as bigint) AS keep
           |FROM b ORDER BY doc_id""".stripMargin,

      // fixed-point PageRank over the deterministic fanout-3 link
      // graph; 5 unrolled damped iterations, integer-exact
      "t21_link_authority" ->
        s"""WITH n AS (SELECT cast(count(*) as bigint) AS nn FROM documents),
           |nodes AS (SELECT cast(doc_id as bigint) AS id FROM documents),
           |e1 AS (SELECT id AS src,
           |    ((id + j) * 2654435761) % 1000003 % (SELECT nn FROM n) AS dst
           |  FROM nodes, (SELECT unnest([1,2,3]) AS j) jt),
           |dg AS (SELECT src, cast(count(*) as bigint) AS deg FROM e1 GROUP BY 1),
           |e AS (SELECT e1.src, e1.dst, dg.deg FROM e1 JOIN dg ON dg.src = e1.src),
           |r0 AS (SELECT id, 1000000000000 // (SELECT nn FROM n) AS r FROM nodes),
           |${prIters(5)}
           |SELECT r5.id AS node, cast(r5.r as bigint) AS rank_fp,
           |  round(cast(r5.r as double) / 1e12, 6) AS rank
           |FROM r5 ORDER BY node""".stripMargin,

      // DSIR importance: per-bucket counts over the same hashed
      // unigram+bigram features as t20, log-likelihood ratio in the
      // shared integer-exact fixed-point log2 (Mixture.log2FpSql),
      // exact bigint doc sums; keep avoids integer division (floor vs
      // truncation differs on negatives) via lr_sum >= thr * n_feats
      "t22_dsir_importance" ->
        s"""WITH d AS (SELECT doc_id, source IN ('src0','src1','src2') AS is_t,
           |    $tk AS toks FROM documents),
           |f AS (SELECT doc_id, is_t, list_concat(toks,
           |    list_transform(range(1, len(toks)),
           |      i -> toks[i] || ' ' || toks[i+1])) AS feats FROM d),
           |x AS (SELECT doc_id, is_t, ((${rollSql("ft")}) % 1024) AS bucket
           |  FROM f, unnest(feats) AS u(ft)),
           |c AS (SELECT bucket, count(*) AS ct_raw,
           |    count(*) FILTER (is_t) AS ct_t FROM x GROUP BY 1),
           |lr AS (SELECT bucket,
           |    ${Mixture.log2FpSql("ct_t+1")} - ${Mixture.log2FpSql("ct_raw+1")}
           |      AS lr_fp FROM c),
           |sc AS (SELECT doc_id, cast(count(*) as bigint) AS n_feats,
           |    cast(sum(lr_fp) as bigint) AS lr_sum
           |  FROM x JOIN lr USING (bucket) GROUP BY 1)
           |SELECT doc_id, n_feats, lr_sum,
           |  round(cast(lr_sum as double) /
           |        (cast(n_feats as double) * 65536.0), 6) AS importance,
           |  (lr_sum >= -170000 * n_feats) AS keep
           |FROM sc ORDER BY doc_id""".stripMargin,

      // frozen Knuth-mixed weights over t22's unigram+bigram buckets,
      // linear margin gate at 0; raw IEEE division only at readout
      "t45_quality_classifier" ->
        s"""WITH d AS (SELECT doc_id, $tk AS toks FROM documents),
           |f AS (SELECT doc_id, list_concat(toks,
           |    list_transform(range(1, len(toks)),
           |      i -> toks[i] || ' ' || toks[i+1])) AS feats FROM d),
           |x AS (SELECT doc_id, ((${rollSql("ft")}) % 131072) AS bucket
           |  FROM f, unnest(feats) AS u(ft)),
           |sc AS (SELECT doc_id, cast(count(*) as bigint) AS n_feats,
           |    cast(sum((bucket + 1) * 2654435761 % 2147483648 % 2001
           |      - 1000) as bigint) AS score_fp
           |  FROM x GROUP BY 1)
           |SELECT doc_id, n_feats, score_fp,
           |  cast(score_fp as double) / (n_feats * 1000.0) AS score,
           |  score_fp > 0 AS keep
           |FROM sc ORDER BY doc_id""".stripMargin,

      // t46: the FULL classifier training replayed — teacher labels
      // (t23's chain verbatim), the 256-doc hash-order sample, the
      // fixed-point naive-Bayes log-odds weights (one per-class count
      // aggregate), the exact threshold calibration (argmax training
      // accuracy over distinct sample-score cut points + a sentinel,
      // ties -> lowest), then the corpus-wide apply
      "t46_trained_classifier" ->
        s"""WITH d AS (SELECT doc_id, $tk AS toks FROM documents),
           |f AS (SELECT doc_id, list_concat(toks,
           |    list_transform(range(1, len(toks)),
           |      i -> toks[i] || ' ' || toks[i+1])) AS feats FROM d),
           |x AS MATERIALIZED (SELECT doc_id, ((${rollSql("ft")}) % 4096) AS bucket
           |  FROM f, unnest(feats) AS u(ft)),
           |tf AS (SELECT doc_id,
           |    list_transform(range(1, len(toks)), i -> toks[i]) AS cs,
           |    list_transform(range(1, len(toks)),
           |      i -> toks[i] || ' ' || toks[i+1]) AS bs FROM d),
           |tx AS (SELECT doc_id, (${rollSql("cw")}) % 1024 AS ctx,
           |    (${rollSql("bw")}) % 65536 AS bi
           |  FROM (SELECT doc_id, unnest(cs) AS cw, unnest(bs) AS bw FROM tf)),
           |cc AS (SELECT ctx, cast(count(*) as bigint) AS ct_ctx FROM tx GROUP BY 1),
           |bc AS (SELECT bi, cast(count(*) as bigint) AS ct_bi FROM tx GROUP BY 1),
           |tsc AS (SELECT doc_id, cast(count(*) as bigint) AS n_bigrams,
           |    cast(sum(${Mixture.log2FpSql("ct_ctx + 65536")}
           |      - ${Mixture.log2FpSql("ct_bi + 1")}) as bigint) AS bits_sum
           |  FROM tx JOIN cc USING (ctx) JOIN bc USING (bi) GROUP BY 1),
           |ttot AS (SELECT cast(sum(bits_sum) as bigint)
           |    // cast(sum(n_bigrams) as bigint) AS cm FROM tsc),
           |lab AS MATERIALIZED (SELECT doc_id,
           |    (bits_sum // n_bigrams <= ttot.cm) AS keep FROM tsc, ttot),
           |smp AS MATERIALIZED (SELECT doc_id, keep
           |  FROM (SELECT l.doc_id, l.keep,
           |      (3 * (l.doc_id % 1000000007) + 8) % 1000000007 AS h
           |    FROM lab l ORDER BY h, l.doc_id LIMIT 256)),
           |sxc AS MATERIALIZED (SELECT x.bucket,
           |    cast(sum(CASE WHEN s.keep THEN 1 ELSE 0 END) as bigint) AS cp,
           |    cast(sum(CASE WHEN s.keep THEN 0 ELSE 1 END) as bigint) AS cn
           |  FROM x JOIN smp s USING (doc_id) GROUP BY 1),
           |stot AS (SELECT cast(sum(cp) as bigint) AS tp,
           |    cast(sum(cn) as bigint) AS tn FROM sxc),
           |w AS MATERIALIZED (SELECT bucket,
           |    (${Mixture.log2FpSql("(cp + 1) * (stot.tn + 4096)")})
           |    - (${Mixture.log2FpSql("(cn + 1) * (stot.tp + 4096)")}) AS wt
           |  FROM sxc, stot),
           |ax AS MATERIALIZED (SELECT doc_id, bucket,
           |    cast(count(*) as bigint) AS cnt FROM x GROUP BY 1, 2),
           |scd AS MATERIALIZED (SELECT ax.doc_id,
           |    cast(sum(ax.cnt) as bigint) AS n_feats,
           |    cast(sum(coalesce(w.wt, 0) * ax.cnt) as bigint) AS score_fp
           |  FROM ax LEFT JOIN w ON w.bucket = ax.bucket GROUP BY 1),
           |ss AS (SELECT scd.score_fp AS s, smp.keep
           |  FROM scd JOIN smp USING (doc_id)),
           |cand AS (SELECT DISTINCT s AS thr FROM ss
           |  UNION SELECT min(s) - 1 FROM ss),
           |thr AS (SELECT c.thr FROM cand c, ss
           |  GROUP BY c.thr
           |  ORDER BY count(*) FILTER (WHERE (ss.s > c.thr) = ss.keep) DESC,
           |    c.thr ASC LIMIT 1)
           |SELECT scd.doc_id, scd.n_feats, scd.score_fp,
           |  scd.score_fp > thr.thr AS pred, lab.keep AS label
           |FROM scd JOIN lab USING (doc_id), thr
           |ORDER BY scd.doc_id""".stripMargin,

      // t51: t23's LM chain verbatim, then the per-language 256-bin
      // histogram of bits_fp = bits_sum // n_bigrams, ceil-thirds cut
      // buckets (cum*3 >= total / >= 2*total), class by bucket
      "t51_ccnet_buckets" ->
        s"""WITH d AS (SELECT doc_id, $tk AS toks FROM documents),
           |f AS (SELECT doc_id,
           |    list_transform(range(1, len(toks)), i -> toks[i]) AS cs,
           |    list_transform(range(1, len(toks)),
           |      i -> toks[i] || ' ' || toks[i+1]) AS bs FROM d),
           |x AS (SELECT doc_id, (${rollSql("cw")}) % 1024 AS ctx,
           |    (${rollSql("bw")}) % 65536 AS bi
           |  FROM (SELECT doc_id, unnest(cs) AS cw, unnest(bs) AS bw FROM f)),
           |cc AS (SELECT ctx, cast(count(*) as bigint) AS ct_ctx FROM x GROUP BY 1),
           |bc AS (SELECT bi, cast(count(*) as bigint) AS ct_bi FROM x GROUP BY 1),
           |sc AS (SELECT doc_id, cast(count(*) as bigint) AS n_bigrams,
           |    cast(sum(${Mixture.log2FpSql("ct_ctx + 65536")}
           |      - ${Mixture.log2FpSql("ct_bi + 1")}) as bigint) AS bits_sum
           |  FROM x JOIN cc USING (ctx) JOIN bc USING (bi) GROUP BY 1),
           |sl AS (SELECT sc.doc_id, dd.lang,
           |    (bits_sum // n_bigrams) AS bits_fp,
           |    least((bits_sum // n_bigrams) // 8192, 255) AS bucket
           |  FROM sc JOIN documents dd USING (doc_id)),
           |h AS (SELECT lang, bucket, count(*) AS ct FROM sl GROUP BY 1, 2),
           |c AS (SELECT lang, bucket,
           |    sum(ct) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
           |    sum(ct) OVER (PARTITION BY lang) AS total FROM h),
           |thr AS (SELECT lang,
           |    min(CASE WHEN cum * 3 >= total THEN bucket END) AS head_thr,
           |    min(CASE WHEN cum * 3 >= 2 * total THEN bucket END) AS mid_thr
           |  FROM c GROUP BY 1)
           |SELECT sl.doc_id, sl.lang, sl.bits_fp, sl.bucket,
           |  thr.head_thr, thr.mid_thr,
           |  CASE WHEN sl.bucket <= thr.head_thr THEN 'head'
           |       WHEN sl.bucket <= thr.mid_thr THEN 'middle'
           |       ELSE 'tail' END AS ppl_bucket
           |FROM sl JOIN thr USING (lang) ORDER BY doc_id""".stripMargin,

      // hashed-bigram LM perplexity: context marginal (rolling hash %
      // 1024) and bigram marginal (% 65536) counts, add-one-smoothed
      // surprisal in the shared integer-exact fixed-point log2, keep
      // via the integer cross-multiplication (never a division)
      "t23_lm_perplexity" ->
        s"""WITH d AS (SELECT doc_id, $tk AS toks FROM documents),
           |f AS (SELECT doc_id,
           |    list_transform(range(1, len(toks)), i -> toks[i]) AS cs,
           |    list_transform(range(1, len(toks)),
           |      i -> toks[i] || ' ' || toks[i+1]) AS bs FROM d),
           |x AS (SELECT doc_id, (${rollSql("cw")}) % 1024 AS ctx,
           |    (${rollSql("bw")}) % 65536 AS bi
           |  FROM (SELECT doc_id, unnest(cs) AS cw, unnest(bs) AS bw FROM f)),
           |cc AS (SELECT ctx, cast(count(*) as bigint) AS ct_ctx FROM x GROUP BY 1),
           |bc AS (SELECT bi, cast(count(*) as bigint) AS ct_bi FROM x GROUP BY 1),
           |sc AS (SELECT doc_id, cast(count(*) as bigint) AS n_bigrams,
           |    cast(sum(${Mixture.log2FpSql("ct_ctx + 65536")}
           |      - ${Mixture.log2FpSql("ct_bi + 1")}) as bigint) AS bits_sum
           |  FROM x JOIN cc USING (ctx) JOIN bc USING (bi) GROUP BY 1),
           |tot AS (SELECT cast(sum(bits_sum) as bigint)
           |    // cast(sum(n_bigrams) as bigint) AS corpus_mean_fp FROM sc)
           |SELECT doc_id, n_bigrams, bits_sum,
           |  round(cast(bits_sum as double) /
           |        (cast(n_bigrams as double) * 65536.0), 6) AS bits_per_bigram,
           |  tot.corpus_mean_fp,
           |  (bits_sum // n_bigrams <= tot.corpus_mean_fp) AS keep
           |FROM sc, tot ORDER BY doc_id""".stripMargin,

      // Efraimidis-Spirakis without replacement: u from the portable
      // SampleI hash, key = -log2fp(u/65536) * 1e6 // weight (all
      // operands non-negative, so floor == truncate across engines)
      "t24_weighted_sample" ->
        s"""WITH d AS (SELECT source AS stratum, doc_id,
           |    greatest(cast(n_chars as bigint), 1) AS w,
           |    ((${Mixture.portableHashSql("doc_id", Mixture.SampleI)}) % 65536 + 1) AS u
           |  FROM documents),
           |k AS (SELECT stratum, doc_id, w,
           |    ((1048576 - (${Mixture.log2FpSql("u")})) * 1000000) // w AS es_key
           |  FROM d),
           |r AS (SELECT stratum, doc_id, w, es_key, cast(row_number() OVER (
           |    PARTITION BY stratum ORDER BY es_key, doc_id) as bigint) AS rn
           |  FROM k)
           |SELECT stratum, doc_id, w, es_key, rn FROM r WHERE rn <= 50
           |ORDER BY stratum, rn""".stripMargin,

      // histogram-quantile threshold: per-(stratum, score-bucket)
      // counts, from-the-top cumulative coverage of ceil(total/10),
      // keep = bucket >= per-stratum threshold bucket
      "t25_histogram_threshold" ->
        s"""WITH s AS (SELECT doc_id, source AS stratum,
           |    cast(n_chars as bigint) AS score,
           |    least(cast(n_chars as bigint) // 16, 255) AS bucket
           |  FROM documents),
           |h AS (SELECT stratum, bucket, count(*) AS ct FROM s GROUP BY 1, 2),
           |c AS (SELECT stratum, bucket,
           |    cast(sum(ct) OVER (PARTITION BY stratum ORDER BY bucket DESC
           |      ROWS UNBOUNDED PRECEDING) as bigint) AS cum,
           |    cast(sum(ct) OVER (PARTITION BY stratum) as bigint) AS total
           |  FROM h),
           |t AS (SELECT stratum, max(bucket) AS thr_bucket FROM c
           |  WHERE cum * 10 >= total GROUP BY 1)
           |SELECT s.doc_id, s.stratum, s.score, s.bucket, t.thr_bucket,
           |  (s.bucket >= t.thr_bucket) AS keep
           |FROM s JOIN t USING (stratum) ORDER BY doc_id""".stripMargin,

      // count-min sketch replay: 4 large-multiplier portable-family
      // hashes over each term's rolling hash; est = min of the 4 cells
      "t26_cm_heavy_hitters" -> {
        val rows = (0 until 4).map { j =>
          s"SELECT $j AS row, (${Mixture.portableHashSql("base",
            Mixture.OrderI + j)}) % 1024 AS col FROM b"
        }.mkString("\n  UNION ALL ")
        val probes = (0 until 4).map { j =>
          s"SELECT term, exact, $j AS row, (${Mixture.portableHashSql(
            s"(${rollSql("term")})", Mixture.OrderI + j)}) % 1024 AS col FROM e"
        }.mkString("\n  UNION ALL ")
        s"""WITH t AS (SELECT unnest($tk) AS term FROM documents),
           |b AS (SELECT term, (${rollSql("term")}) AS base FROM t),
           |c AS (SELECT row, col, count(*) AS ct FROM (
           |  $rows) GROUP BY 1, 2),
           |e AS (SELECT term, count(*) AS exact FROM t GROUP BY 1),
           |p AS ($probes),
           |est AS (SELECT term, min(exact) AS exact, min(ct) AS est
           |  FROM p JOIN c USING (row, col) GROUP BY term)
           |SELECT term, cast(est as bigint) AS est,
           |  cast(exact as bigint) AS exact,
           |  cast(est - exact as bigint) AS overcount
           |FROM est WHERE est >= 500 ORDER BY term""".stripMargin
      },

      // HLL replay over the shared shingle CTE: bucket/rank from the
      // shingle hash, max-rank registers, exact integer numerator, the
      // SAME est text as the engine (one identical double expression)
      "t30_hll_distinct" -> {
        val est =
          """cast(0.7213 as double) / (cast(1.0 as double)
            |  + cast(1.079 as double) / cast(1024 as double))
            |  * cast(1024 as double) * cast(1024 as double)
            |  * cast(2097152 as double) / cast(num as double)""".stripMargin
        s"""WITH ${shingleSql("SELECT doc_id, text FROM documents")},
           |h AS (SELECT sh AS h FROM sh),
           |r0 AS (SELECT h % 1024 AS bucket, h // 1024 AS w FROM h),
           |r1 AS (SELECT bucket,
           |    max(CASE WHEN w = 0 THEN 21 ELSE 21 - length(bin(w)) END) AS rho
           |  FROM r0 GROUP BY 1),
           |s AS (SELECT count(*) AS present,
           |    cast(sum(cast((1::BIGINT << (21 - rho)) as bigint)) as bigint)
           |      AS num_present FROM r1),
           |e AS (SELECT count(DISTINCT h) AS n_exact FROM h),
           |n AS (SELECT s.present, e.n_exact,
           |    s.num_present + (1024 - s.present) * 2097152 AS num FROM s, e)
           |SELECT cast(1024 as bigint) AS m,
           |  cast(1024 - present as bigint) AS v_zero,
           |  cast(n_exact as bigint) AS n_exact,
           |  round($est, 6) AS est,
           |  round(abs(($est) - cast(n_exact as double))
           |    / cast(n_exact as double), 6) AS rel_err
           |FROM n""".stripMargin
      },

      // per-lang HLL replay (p=8): (lang, bucket) max-rank registers,
      // same exact-numerator + fixed double readout as t30
      "t31_hll_by_lang" -> {
        val est =
          """cast(0.7213 as double) / (cast(1.0 as double)
            |  + cast(1.079 as double) / cast(256 as double))
            |  * cast(256 as double) * cast(256 as double)
            |  * cast(8388608 as double) / cast(num as double)""".stripMargin
        s"""WITH ${shingleSql("SELECT doc_id, text FROM documents")},
           |l AS (SELECT s.id, s.sh, d.lang FROM sh s
           |  JOIN documents d ON d.doc_id = s.id),
           |r0 AS (SELECT lang, sh % 256 AS bucket, sh // 256 AS w FROM l),
           |r1 AS (SELECT lang, bucket,
           |    max(CASE WHEN w = 0 THEN 23 ELSE 23 - length(bin(w)) END) AS rho
           |  FROM r0 GROUP BY 1, 2),
           |sm AS (SELECT lang, count(*) AS present,
           |    cast(sum(cast((1::BIGINT << (23 - rho)) as bigint)) as bigint)
           |      AS num_present
           |  FROM r1 GROUP BY 1),
           |e AS (SELECT lang, count(DISTINCT sh) AS n_exact FROM l GROUP BY 1),
           |n AS (SELECT sm.lang, sm.present, e.n_exact,
           |    sm.num_present + (256 - sm.present) * 8388608 AS num
           |  FROM sm JOIN e USING (lang))
           |SELECT lang, cast(256 - present as bigint) AS v_zero,
           |  cast(n_exact as bigint) AS n_exact,
           |  round($est, 6) AS est,
           |  round(abs(($est) - cast(n_exact as double))
           |    / cast(n_exact as double), 6) AS rel_err
           |FROM n ORDER BY lang""".stripMargin
      },

      // BM25 replay: same integer-exact idf (fixed-point log2, clamped
      // at 0) and the multiplied-through tf saturation; all operands
      // positive so // matches div
      "t34_bm25_topk" ->
        s"""WITH tk AS (SELECT doc_id AS id, unnest(${toksSql("text")}) AS tok
           |  FROM documents),
           |tf AS (SELECT id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
           |dl AS (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
           |d AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
           |nl AS (SELECT count(*) AS nn, sum(dl) AS ll FROM dl),
           |sc AS (SELECT tf.id AS n_id, tf.tok,
           |    greatest(0, ${Mixture.log2FpSql("2*nn - 2*df + 1")} -
           |      ${Mixture.log2FpSql("2*df + 1")}) AS idf_fp,
           |    tf.tf, dl.dl, nn, ll
           |  FROM tf JOIN d USING (tok) JOIN dl USING (id) CROSS JOIN nl),
           |term AS (SELECT n_id, tok,
           |    (idf_fp * 22 * tf * ll) // (10 * tf * ll + 3 * ll + 9 * dl * nn)
           |      AS term_fp
           |  FROM sc),
           |q AS (SELECT id AS q_id, tok FROM tf WHERE id < 3),
           |hits AS (SELECT q.q_id, t.n_id, cast(sum(t.term_fp) AS bigint) AS score_fp
           |  FROM q JOIN term t USING (tok) WHERE t.n_id <> q.q_id
           |  GROUP BY 1, 2),
           |r AS (SELECT q_id, n_id, score_fp, row_number() OVER (
           |    PARTITION BY q_id ORDER BY score_fp DESC, n_id ASC) AS rnk
           |  FROM hits)
           |SELECT q_id, n_id, rnk, score_fp FROM r WHERE rnk <= 10
           |ORDER BY q_id, rnk""".stripMargin,

      // TextRank replay: adjacent-pair edges from zipped unnests, the
      // shared rolling token hash as node id, then t21's 5 unrolled
      // fixed-point PageRank iterations (prIters) verbatim
      "t35_textrank_keywords" ->
        s"""WITH t AS (SELECT ${toksSql("text")} AS toks FROM documents),
           |pr0 AS (SELECT unnest(toks[1:len(toks)-1]) AS a,
           |    unnest(toks[2:len(toks)]) AS b FROM t),
           |p AS (SELECT a, b FROM pr0
           |  WHERE a NOT IN ($stopSql) AND b NOT IN ($stopSql)),
           |he AS (SELECT ${rollSql("a")} AS ha, ${rollSql("b")} AS hb FROM p),
           |ed1 AS (SELECT ha AS src, hb AS dst FROM he WHERE ha <> hb
           |  UNION ALL SELECT hb, ha FROM he WHERE ha <> hb),
           |wt AS (SELECT unnest(toks) AS w FROM t),
           |nt AS (SELECT w, ${rollSql("w")} AS h FROM wt
           |  WHERE w NOT IN ($stopSql)),
           |nodes AS (SELECT DISTINCT h AS id FROM nt),
           |rep AS (SELECT h, min(w) AS token FROM nt GROUP BY 1),
           |n AS (SELECT cast(count(*) as bigint) AS nn FROM nodes),
           |dg AS (SELECT src, cast(count(*) as bigint) AS deg
           |  FROM ed1 GROUP BY 1),
           |e AS (SELECT ed1.src, ed1.dst, dg.deg
           |  FROM ed1 JOIN dg ON dg.src = ed1.src),
           |r0 AS (SELECT id, 1000000000000 // (SELECT nn FROM n) AS r
           |  FROM nodes),
           |${prIters(5)}
           |SELECT rep.token, cast(r5.r as bigint) AS rank_fp,
           |  round(cast(r5.r as double) / 1e12, 6) AS rank
           |FROM r5 JOIN rep ON rep.h = r5.id
           |ORDER BY rank_fp DESC, token LIMIT 20""".stripMargin,

      // Full BPE TRAINING replay (the s23/s24 end-to-end move): the
      // first recursive CTE IS the trainer — DuckDB's working-table
      // semantics (the recursive term sees exactly the previous
      // iteration's rows) carries every sampled word type's
      // segmentation state one merge step at a time; each step's chosen
      // pair is the weighted argmax with the trainer's exact (count
      // desc, pair asc) tie-break and count>=2 floor. Segmentation
      // state is a string with every symbol wrapped in chr(1) sentinels
      // so replace() of the wrapped pair is exactly the trainer's
      // left-to-right non-overlapping merge scan (a merged token can
      // never recreate its own pair: ab=a or ab=b would need an empty
      // symbol). The merge sequence is then recovered per step by
      // re-running the same argmax over the accumulated states, and a
      // second recursive CTE replays bpeSegment's leftmost-lowest-rank
      // greedy loop for every distinct corpus word. Sums cast to
      // bigint (HUGEINT drift, the t34 lesson); compression is the raw
      // IEEE division.
      "t32_bpe_trained" -> (bpeReplaySql +
        """
          |SELECT doc.doc_id, coalesce(a.n_words, 0) AS n_words,
          |  coalesce(a.n_sym, 0) AS n_sym, coalesce(a.n_bpe, 0) AS n_bpe,
          |  CASE WHEN coalesce(a.n_bpe, 0) > 0
          |    THEN cast(a.n_sym AS double) / a.n_bpe END AS compression
          |FROM doc LEFT JOIN agg a ON a.doc_id = doc.doc_id
          |ORDER BY doc.doc_id""".stripMargin),

      // t47: the same training replay, aggregated per source — exact
      // integer count sums, one double division per ratio
      "t47_tokenizer_fitness" -> (bpeReplaySql +
        """
          |SELECT d.source, count(*) AS n_docs,
          |  cast(sum(coalesce(a.n_words, 0)) as bigint) AS n_words,
          |  cast(sum(coalesce(a.n_sym, 0)) as bigint) AS n_sym,
          |  cast(sum(coalesce(a.n_bpe, 0)) as bigint) AS n_bpe,
          |  CASE WHEN sum(coalesce(a.n_bpe, 0)) > 0 THEN
          |    cast(sum(coalesce(a.n_sym, 0)) as double) /
          |      sum(coalesce(a.n_bpe, 0)) END AS compression,
          |  CASE WHEN sum(coalesce(a.n_words, 0)) > 0 THEN
          |    cast(sum(coalesce(a.n_bpe, 0)) as double) /
          |      sum(coalesce(a.n_words, 0)) END AS fertility
          |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
          |GROUP BY 1 ORDER BY source""".stripMargin),

      // KMV sketch-algebra replay: per-source bottom-64 of the spread
      // shingle hashes via list_sort(list(DISTINCT ..))[1:64], pairwise
      // merged-truncate union sketch, the SAME union/Jaccard estimate
      // expressions as the engine (q35's replay convention)
      "t33_sketch_overlap" ->
        s"""WITH ${shingleSql("SELECT doc_id, text FROM documents")},
           |sp AS (SELECT DISTINCT d.source AS src,
           |    (736238393 * (sh.sh % $P) + 12345) % $P AS h
           |  FROM sh JOIN documents d ON d.doc_id = sh.id),
           |sk AS (SELECT src, (list_sort(list(DISTINCT h)))[1:64] AS kv,
           |    count(DISTINCT h) AS nd
           |  FROM sp GROUP BY src),
           |pr AS (SELECT a.src AS src_a, b.src AS src_b,
           |    a.nd AS nd_a, b.nd AS nd_b, a.kv AS ka, b.kv AS kb
           |  FROM sk a JOIN sk b ON a.src < b.src),
           |m AS (SELECT src_a, src_b, nd_a, nd_b, ka, kb,
           |    (list_sort(list_distinct(ka || kb)))[1:64] AS mg FROM pr),
           |c AS (SELECT src_a, src_b, nd_a, nd_b,
           |    len(mg) AS m_n,
           |    len(list_filter(mg, h -> list_contains(ka, h)
           |      AND list_contains(kb, h))) AS n_both,
           |    CASE WHEN len(mg) < 64 THEN cast(len(mg) as double)
           |         ELSE 63.0 * 1000000007.0 / cast(mg[64] as double)
           |    END AS union_raw
           |  FROM m)
           |SELECT src_a, src_b, nd_a, nd_b,
           |  round(union_raw, 6) AS union_est,
           |  round(cast(n_both as double) / m_n, 6) AS jacc_est,
           |  round((cast(n_both as double) / m_n) * union_raw, 6) AS inter_est
           |FROM c ORDER BY src_a, src_b""".stripMargin,

      // novelty = fraction of distinct trigram shingles with df == 1,
      // over the shared shingle CTE on the planted-copy corpus
      "t28_novelty" ->
        s"""WITH ${shingleSql(mutCorpusSql)},
           |fdf AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1)
           |SELECT s.id AS doc_id, count(*) AS n_shingles,
           |  cast(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) as bigint) AS n_novel,
           |  round(cast(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) as double)
           |    / count(*), 6) AS novelty
           |FROM sh s JOIN fdf f USING (sh) GROUP BY 1 ORDER BY doc_id""".stripMargin,

      // overlapping token windows: n_chunks = ceil((n-64)/48)+1 spelled
      // as floor-div of non-negatives; chunk hash = rolling hash of the
      // space-joined window (t05's fingerprint convention)
      "t27_chunk_overlap" ->
        s"""WITH d AS (SELECT doc_id, $tk AS toks FROM documents),
           |n AS (SELECT doc_id, toks, cast(len(toks) as bigint) AS n_tok FROM d),
           |m AS (SELECT doc_id, toks,
           |  CASE WHEN n_tok <= 64 THEN 1::BIGINT
           |       ELSE ((n_tok - 64 + 47) // 48) + 1 END AS n_chunks FROM n),
           |c AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_id FROM m)
           |SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
           |  cast(len(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64)) as bigint)
           |    AS chunk_tok,
           |  (${rollSql("array_to_string(list_slice(toks, chunk_id*48 + 1, " +
             "chunk_id*48 + 64), ' ')")})
           |    AS chunk_hash
           |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

      // streaming binary near-dup replay: corpus + shifted-shard sign
      // signatures, any-band agreement + hamming verify, min corpus id
      "st20_stream_binary_neardup" -> {
        val signSql = (v: String) =>
          s"""(cast(list_sum(list_transform(range(63), d ->
             |    CASE WHEN $v[d+1] > 0 THEN (1::BIGINT << d) ELSE 0::BIGINT END)) as bigint)
             |  + (CASE WHEN $v[64] > 0 THEN (-9223372036854775807::BIGINT - 1::BIGINT)
             |     ELSE 0::BIGINT END))""".stripMargin
        val bandAgree = (0 until 4).map(b =>
          s"((q.sig >> ${b * 16}) & 65535) = ((s.sig >> ${b * 16}) & 65535)")
          .mkString("(", " OR ", ")")
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |sp AS (SELECT id, ${signSql("v")} AS sig FROM e),
           |q0 AS (SELECT id + 100000 AS q_id,
           |  CASE WHEN id % 2 = 1 THEN list_transform(v, x -> x + 10.0) ELSE v END AS v
           |  FROM e),
           |qs AS (SELECT q_id, ${signSql("v")} AS sig FROM q0),
           |m AS (SELECT q.q_id, min(s.id) AS match_id
           |  FROM qs q JOIN sp s ON $bandAgree
           |    AND bit_count(xor(q.sig, s.sig)) <= 3
           |  GROUP BY q.q_id)
           |SELECT q.q_id AS vec_id, coalesce(m.match_id, q.q_id) AS canonical_id,
           |  (m.match_id IS NULL) AS is_new
           |FROM qs q LEFT JOIN m ON m.q_id = q.q_id ORDER BY vec_id""".stripMargin
      },

      // streaming chunk dedup replay: the distinct chunk-hash set of
      // t27's windows (st06's key-set convention)
      "st19_stream_chunk_dedup" ->
        s"""WITH d AS (SELECT doc_id, $tk AS toks FROM documents),
           |n AS (SELECT doc_id, toks, cast(len(toks) as bigint) AS n_tok FROM d),
           |m AS (SELECT doc_id, toks,
           |  CASE WHEN n_tok <= 64 THEN 1::BIGINT
           |       ELSE ((n_tok - 64 + 47) // 48) + 1 END AS n_chunks FROM n),
           |c AS (SELECT toks, unnest(range(n_chunks)) AS chunk_id FROM m)
           |SELECT DISTINCT
           |  (${rollSql("array_to_string(list_slice(toks, chunk_id*48 + 1, " +
             "chunk_id*48 + 64), ' ')")})
           |    AS chunk_hash
           |FROM c ORDER BY chunk_hash""".stripMargin,

      "t14_quality_rules" ->
        s"""SELECT doc_id, cast(n as bigint) AS n_words,
           |  round(mwl, 6) AS mean_word_len, round(div, 6) AS diversity,
           |  cast(stop as bigint) AS stop_hits, round(mf, 6) AS max_tok_frac,
           |  cast(CASE WHEN n >= 40 AND mwl >= 3.0 AND mwl <= 10.0
           |    AND div >= 0.5 AND stop >= 2 AND mf <= 0.12
           |    THEN 1 ELSE 0 END as bigint) AS keep
           |FROM (SELECT doc_id, len(toks) AS n,
           |    cast(list_reduce(list_transform(toks, t -> cast(length(t) as bigint)),
           |      (a,b) -> a+b) as double) / len(toks) AS mwl,
           |    cast(len(list_distinct(toks)) as double) / len(toks) AS div,
           |    ${stopHitsSql("toks")} AS stop,
           |    cast(list_max(list_transform(list_distinct(toks),
           |      d -> len(list_filter(toks, x -> x = d)))) as double) / len(toks) AS mf
           |  FROM (SELECT doc_id, $tk AS toks FROM documents))
           |ORDER BY doc_id""".stripMargin,

      "t15_repetition" ->
        s"""WITH d AS (SELECT doc_id, $tk AS toks FROM documents),
           |g AS (SELECT doc_id,
           |    list_transform(range(1, len(toks)),
           |      i -> toks[i] || ' ' || toks[i+1]) AS g2,
           |    list_transform(range(1, len(toks) - 1),
           |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
           |  FROM d),
           |m AS (SELECT doc_id, len(g2) AS n2,
           |    coalesce(list_max(list_transform(list_distinct(g2),
           |      x -> len(list_filter(g2, y -> y = x)))), 0) AS top2,
           |    len(g3) AS n3, len(g3) - len(list_distinct(g3)) AS dup3
           |  FROM g)
           |SELECT doc_id, cast(n2 as bigint) AS n_2grams, cast(top2 as bigint) AS top2_n,
           |  cast(n3 as bigint) AS n_3grams, cast(dup3 as bigint) AS n_dup3,
           |  round(CASE WHEN n2 > 0 THEN cast(top2 as double) / n2 ELSE 0.0 END, 6) AS top2_frac,
           |  round(CASE WHEN n3 > 0 THEN cast(dup3 as double) / n3 ELSE 0.0 END, 6) AS dup3_frac
           |FROM m ORDER BY doc_id""".stripMargin,

      // the naive single-window spelling of the two-pass distributed
      // prefix sum: cum over (shard, hash, id) within each language
      "t09_token_budget" ->
        s"""WITH d AS (SELECT doc_id, lang, cast(len($tk) as bigint) AS n_tokens,
           |    ${Mixture.portableHashSql("doc_id")} AS h FROM documents),
           |c AS (SELECT doc_id, lang, n_tokens,
           |    cast(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h % 4, h, doc_id
           |      ROWS UNBOUNDED PRECEDING) as bigint) AS cum_tokens FROM d)
           |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
           |WHERE cum_tokens - n_tokens < 2000 ORDER BY doc_id""".stripMargin,

      "t10_pack_sequences" ->
        s"""WITH d AS (SELECT doc_id, lang, cast(len($tk) as bigint) AS n_tokens,
           |    ${Mixture.portableHashSql("doc_id")} AS h FROM documents),
           |c AS (SELECT doc_id, lang, n_tokens,
           |    cast(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h % 4, h, doc_id
           |      ROWS UNBOUNDED PRECEDING) as bigint) AS cum FROM d)
           |SELECT doc_id, lang, n_tokens,
           |  (cum - n_tokens) // 256 AS pack_id,
           |  (cum - n_tokens) % 256 AS pack_offset,
           |  (cum - 1) // 256 AS pack_end
           |FROM c ORDER BY doc_id""".stripMargin,

      "t11_top_tfidf" ->
        s"""WITH t AS (SELECT doc_id, unnest($tk) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, row_number() OVER (
           |    PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rn
           |  FROM tf JOIN df USING (term))
           |SELECT doc_id, term, tf, df FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

      "d01_exact_dedup" ->
        s"""SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id,
           |  count(*) AS n_copies
           |FROM ($dupCorpusSql) GROUP BY 1 ORDER BY content_md5""".stripMargin,

      // containment: distinct-shingle posting join under the df cap,
      // full distinct-shingle sizes as denominators, both directions
      "d17_containment" ->
        s"""WITH ${shingleSql(subCorpusSql)},
           |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
           |rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 32),
           |p AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
           |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           |  WHERE a.sh IN (SELECT sh FROM rare) GROUP BY 1, 2),
           |c AS (SELECT p.id_a, p.id_b, p.n_shared,
           |    cast(p.n_shared as double) / sa.n_sh AS ca,
           |    cast(p.n_shared as double) / sb.n_sh AS cb
           |  FROM p JOIN sizes sa ON sa.id = p.id_a
           |  JOIN sizes sb ON sb.id = p.id_b)
           |SELECT id_a, id_b, n_shared,
           |  round(ca, 6) AS cont_a_in_b, round(cb, 6) AS cont_b_in_a
           |FROM c WHERE greatest(ca, cb) >= 0.8
           |ORDER BY id_a, id_b""".stripMargin,

      // normalized exact dedup: DuckDB regexp_replace needs the 'g'
      // flag to match Spark's replace-all default
      "d16_normalized_dedup" ->
        s"""WITH n AS (SELECT doc_id,
           |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
           |  FROM (SELECT doc_id, text FROM documents
           |        UNION ALL SELECT doc_id + 100000, upper(text) || ' !!'
           |        FROM documents))
           |SELECT md5(t) AS content_md5, min(doc_id) AS canonical_id,
           |  count(*) AS n_copies
           |FROM n GROUP BY 1 ORDER BY content_md5""".stripMargin,

      "d02_ngram_jaccard" ->
        s"""WITH ${shingleSql(mutCorpusSql)},
           |sizes AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
           |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
           |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
           |SELECT id_a, id_b, n_inter, jaccard FROM (
           |  SELECT i.id_a, i.id_b, i.n_inter,
           |    round(cast(i.n_inter as double)
           |      / (sa.set_size + sb.set_size - i.n_inter), 6) AS jaccard
           |  FROM inter i
           |  JOIN sizes sa ON sa.id = i.id_a
           |  JOIN sizes sb ON sb.id = i.id_b) t
           |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

      "d03_minhash_bands" ->
        s"""WITH ${shingleSql(mutCorpusSql)}, $mhSql
           |SELECT id,
           |  array_to_string(mh[1:4], '-') AS band0,
           |  array_to_string(mh[5:8], '-') AS band1,
           |  array_to_string(mh[9:12], '-') AS band2,
           |  array_to_string(mh[13:16], '-') AS band3
           |FROM mh ORDER BY id""".stripMargin,

      "d04_lsh_pairs" ->
        s"""WITH ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id)
           |SELECT p.id_a, p.id_b,
           |  round(cast(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i]))
           |    as double) / 16, 6) AS est_sim
           |FROM pairs p JOIN mh a ON a.id = p.id_a JOIN mh b ON b.id = p.id_b
           |ORDER BY id_a, id_b""".stripMargin,

      // t54: d04's banded-candidate replay + the hash split; any
      // cross-boundary candidate evicts its train side
      // t55: the exact integer weights over the unnested shard range,
      // both argmaxes as window ranks (weight DESC, shard ASC)
      "t55_rendezvous_shards" ->
        s"""WITH w AS (SELECT doc_id, s,
           |    ${Mixture.rendezvousWeightSql("doc_id", "s")} AS w
           |  FROM documents, unnest(range(0, 9)) AS u(s)),
           |a AS (SELECT doc_id, s AS shard_k FROM (
           |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY w DESC, s ASC) AS rn FROM w WHERE s < 8) t
           |  WHERE rn = 1),
           |b AS (SELECT doc_id, s AS shard_k2 FROM (
           |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY w DESC, s ASC) AS rn FROM w) t
           |  WHERE rn = 1)
           |SELECT a.doc_id, a.shard_k, b.shard_k2,
           |  a.shard_k <> b.shard_k2 AS moved
           |FROM a JOIN b USING (doc_id) ORDER BY doc_id""".stripMargin,

      // t56: t55's weights/argmaxes, keeping only the movers — the
      // scalar CASE spelling doubles as a cross-check of the engine's
      // struct-max tie rule
      "t56_shard_rebalance" ->
        s"""SELECT doc_id,
           |  ${Mixture.rendezvousShardSql("doc_id", 8)} AS from_shard,
           |  ${Mixture.rendezvousShardSql("doc_id", 9)} AS to_shard
           |FROM documents
           |WHERE ${Mixture.rendezvousShardSql("doc_id", 8)}
           |  <> ${Mixture.rendezvousShardSql("doc_id", 9)}
           |ORDER BY doc_id""".stripMargin,

      "t54_leakage_safe_split" ->
        s"""WITH ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id),
           |sp AS (SELECT doc_id, ${Mixture.splitColumnSql("doc_id")} AS split
           |  FROM ($mutCorpusSql) mc),
           |leak AS (SELECT DISTINCT
           |    CASE WHEN a.split = 'train' THEN p.id_a ELSE p.id_b END AS doc_id
           |  FROM pairs p JOIN sp a ON a.doc_id = p.id_a
           |  JOIN sp b ON b.doc_id = p.id_b
           |  WHERE (a.split = 'train' AND b.split = 'test')
           |     OR (a.split = 'test' AND b.split = 'train'))
           |SELECT sp.doc_id, sp.split, l.doc_id IS NOT NULL AS leaked,
           |  (sp.split <> 'train' OR l.doc_id IS NULL) AS kept
           |FROM sp LEFT JOIN leak l ON l.doc_id = sp.doc_id
           |ORDER BY sp.doc_id""".stripMargin,

      // 80%-prefix shard windows vs the corpus's distinct window-hash
      // set; islands per doc; per-doc totals left-join span stats
      "st44_stream_dup_probe" -> {
        val tk = toksSql("text")
        s"""WITH sh AS (SELECT doc_id + 100000 AS doc_id,
           |    array_to_string(($tk)[1:greatest(cast(floor(len($tk) * 0.8) as int), 1)],
           |      ' ') AS text
           |  FROM documents),
           |ct AS (SELECT ${toksSql("text")} AS toks FROM documents),
           |cw AS (SELECT unnest(range(1, len(toks) - 8 + 2)) AS p, toks
           |  FROM ct WHERE len(toks) >= 8),
           |chs AS (SELECT DISTINCT
           |  ${rollSql("list_aggregate(toks[p : p + 7], 'string_agg', ' ')")} AS wh
           |  FROM cw),
           |st AS (SELECT cast(doc_id as bigint) AS id, ${toksSql("text")} AS toks FROM sh),
           |sw AS (SELECT id, unnest(range(1, len(toks) - 8 + 2)) AS p, toks
           |  FROM st WHERE len(toks) >= 8),
           |shh AS (SELECT id, p,
           |  ${rollSql("list_aggregate(toks[p : p + 7], 'string_agg', ' ')")} AS wh FROM sw),
           |f AS (SELECT id, p,
           |    CASE WHEN wh IN (SELECT wh FROM chs) THEN 1 ELSE 0 END AS hit
           |  FROM shh),
           |tot AS (SELECT id, count(*) AS n_wins, cast(sum(hit) as bigint) AS n_dup
           |  FROM f GROUP BY id),
           |m AS (SELECT id, p FROM f WHERE hit = 1),
           |b AS (SELECT id, p, CASE WHEN lag(p) OVER (PARTITION BY id ORDER BY p) IS NULL
           |    OR p > lag(p) OVER (PARTITION BY id ORDER BY p) + 8 THEN 1 ELSE 0 END AS brk
           |  FROM m),
           |g AS (SELECT id, p, cast(sum(brk) OVER (PARTITION BY id ORDER BY p) as bigint) AS grp
           |  FROM b),
           |sp0 AS (SELECT id, grp, min(p) AS ss, max(p) + 7 AS se FROM g GROUP BY id, grp),
           |sp AS (SELECT id, count(*) AS n_spans,
           |    cast(sum(se - ss + 1) as bigint) AS dup_tokens,
           |    max(se - ss + 1) AS max_span FROM sp0 GROUP BY id)
           |SELECT t.id AS doc_id, n_wins, n_dup,
           |  coalesce(n_spans, 0) AS n_spans,
           |  coalesce(dup_tokens, 0) AS dup_tokens,
           |  coalesce(max_span, 0) AS max_span
           |FROM tot t LEFT JOIN sp ON sp.id = t.id
           |ORDER BY doc_id""".stripMargin
      },

      // q76's sessionization + first/last per session, kept only when
      // the session end (+gap) clears the final watermark (st05's
      // closure convention: last + 1800 <= max(sec) - 7200)
      "st46_stream_entry_exit" ->
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
          |    max(sec) OVER (PARTITION BY user_id, sid) AS last_sec,
          |    row_number() OVER (PARTITION BY user_id, sid
          |      ORDER BY sec, event_id) AS rf,
          |    row_number() OVER (PARTITION BY user_id, sid
          |      ORDER BY sec DESC, event_id DESC) AS rl
          |  FROM c),
          |cl AS (SELECT * FROM d
          |  WHERE last_sec + 1800 <= (SELECT max(sec) FROM e) - 7200),
          |ent AS (SELECT event_type, count(*) AS n_entries,
          |    cast(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) as bigint) AS n_bounces
          |  FROM cl WHERE rf = 1 GROUP BY 1),
          |ex AS (SELECT event_type, count(*) AS n_exits
          |  FROM cl WHERE rl = 1 GROUP BY 1)
          |SELECT coalesce(ent.event_type, ex.event_type) AS event_type,
          |  coalesce(n_entries, 0) AS n_entries,
          |  coalesce(n_exits, 0) AS n_exits,
          |  coalesce(n_bounces, 0) AS n_bounces
          |FROM ent FULL JOIN ex ON ent.event_type = ex.event_type
          |ORDER BY event_type""".stripMargin,

      // exact-integer DP: Σ|c_ts·S − s_s·c_t| over present sources +
      // closed-form absent term, one division by 2·c_t·S
      "t49_term_dispersion" ->
        s"""WITH tk AS (SELECT source, unnest(${toksSql("text")}) AS tok FROM documents),
           |tok AS (SELECT source, tok, count(*) AS c FROM tk
           |  WHERE len(tok) > 0 GROUP BY 1, 2),
           |ssz AS (SELECT source, cast(sum(c) as bigint) AS ssz FROM tok GROUP BY 1),
           |stot AS (SELECT cast(sum(ssz) as bigint) AS S FROM ssz),
           |top AS (SELECT tok, cast(sum(c) as bigint) AS ct FROM tok
           |  GROUP BY 1 ORDER BY ct DESC, tok ASC LIMIT 50),
           |j AS (SELECT t.tok, t.ct, s.S,
           |    cast(sum(abs(o.c * s.S - z.ssz * t.ct)) as bigint) AS numPresent,
           |    cast(sum(z.ssz) as bigint) AS sPresent
           |  FROM top t JOIN tok o ON o.tok = t.tok
           |  JOIN ssz z ON z.source = o.source CROSS JOIN stot s
           |  GROUP BY 1, 2, 3)
           |SELECT tok, ct,
           |  round(cast(numPresent + (S - sPresent) * ct as double)
           |    / (2.0 * ct * S), 6) AS dp
           |FROM j ORDER BY ct DESC, tok ASC""".stripMargin,

      // d04's banded candidate replay + exact Levenshtein verify with
      // the 400 band cap (-1 beyond) and the cross-multiplied gate
      "t48_edit_verify" ->
        s"""WITH ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id),
           |est AS (SELECT p.id_a, p.id_b,
           |    round(cast(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i]))
           |      as double) / 16, 6) AS est_sim
           |  FROM pairs p JOIN mh a ON a.id = p.id_a JOIN mh b ON b.id = p.id_b),
           |d AS (SELECT e.id_a, e.id_b, e.est_sim,
           |    CASE WHEN levenshtein(x.text, y.text) <= 400
           |      THEN cast(levenshtein(x.text, y.text) as bigint)
           |      ELSE -1 END AS dist,
           |    cast(greatest(len(x.text), len(y.text)) as bigint) AS maxlen
           |  FROM est e JOIN u x ON x.doc_id = e.id_a
           |  JOIN u y ON y.doc_id = e.id_b)
           |SELECT id_a, id_b, est_sim, dist,
           |  (dist >= 0 AND dist * 5 <= maxlen) AS confirmed
           |FROM d ORDER BY id_a, id_b""".stripMargin,

      "d08_dedup_pipeline" ->
        s"""WITH RECURSIVE ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id),
           |p AS (SELECT pr.id_a, pr.id_b FROM pairs pr
           |  JOIN mh a ON a.id = pr.id_a JOIN mh b ON b.id = pr.id_b
           |  WHERE cast(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i])) as double) / 16
           |    >= 0.5),
           |e AS (SELECT id_a AS s, id_b AS d FROM p
           |  UNION SELECT id_b, id_a FROM p),
           |ids AS (SELECT DISTINCT doc_id AS id FROM u),
           |reach AS (
           |  SELECT id AS src, id AS dst FROM ids
           |  UNION
           |  SELECT r.src, e.d FROM reach r JOIN e ON e.s = r.dst)
           |SELECT src AS doc_id, min(dst) AS canonical_id,
           |  (src = min(dst)) AS is_kept
           |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

      // st55: d08's closure → the notice's cluster → fan-out to every
      // member (base notices only — the stream carries base docs)
      "st55_stream_takedown_propagate" ->
        s"""WITH RECURSIVE ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id),
           |p AS (SELECT pr.id_a, pr.id_b FROM pairs pr
           |  JOIN mh a ON a.id = pr.id_a JOIN mh b ON b.id = pr.id_b
           |  WHERE cast(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i])) as double) / 16
           |    >= 0.5),
           |ee AS (SELECT id_a AS s, id_b AS d FROM p
           |  UNION SELECT id_b, id_a FROM p),
           |ids AS (SELECT DISTINCT doc_id AS id FROM u),
           |reach AS (
           |  SELECT id AS src, id AS dst FROM ids
           |  UNION
           |  SELECT r.src, ee.d FROM reach r JOIN ee ON ee.s = r.dst),
           |comp AS (SELECT src AS doc_id, min(dst) AS canonical_id
           |  FROM reach GROUP BY src),
           |ntc AS (SELECT doc_id AS ntc_id, canonical_id FROM comp
           |  WHERE doc_id % 37 = 5 AND doc_id < 100000)
           |SELECT n.ntc_id, n.canonical_id, m.doc_id AS member
           |FROM ntc n JOIN comp m ON m.canonical_id = n.canonical_id
           |ORDER BY n.ntc_id, member""".stripMargin,

      // d24: d08's closure → kept verdicts → source attach → per-source
      // kept rate + bias index vs the corpus rate (scalar subqueries)
      "d24_dedup_bias" ->
        s"""WITH RECURSIVE ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id),
           |p AS (SELECT pr.id_a, pr.id_b FROM pairs pr
           |  JOIN mh a ON a.id = pr.id_a JOIN mh b ON b.id = pr.id_b
           |  WHERE cast(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i])) as double) / 16
           |    >= 0.5),
           |ee AS (SELECT id_a AS s, id_b AS d FROM p
           |  UNION SELECT id_b, id_a FROM p),
           |ids AS (SELECT DISTINCT doc_id AS id FROM u),
           |reach AS (
           |  SELECT id AS src, id AS dst FROM ids
           |  UNION
           |  SELECT r.src, ee.d FROM reach r JOIN ee ON ee.s = r.dst),
           |v AS (SELECT src AS doc_id, (src = min(dst)) AS kept
           |  FROM reach GROUP BY src),
           |j AS (SELECT d.source, v.kept FROM v
           |  JOIN documents d ON d.doc_id = v.doc_id % 100000),
           |tot AS (SELECT
           |    cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) as bigint) AS k_all,
           |    cast(count(*) as bigint) AS n_all FROM j)
           |SELECT source, cast(count(*) as bigint) AS n_docs,
           |  cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) as bigint) AS n_kept,
           |  round(cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) as double)
           |    / count(*), 6) AS kept_rate,
           |  round((cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) as double)
           |      * (SELECT n_all FROM tot))
           |    / (cast(count(*) as double) * (SELECT k_all FROM tot)), 6)
           |    AS bias_index
           |FROM j GROUP BY source ORDER BY source""".stripMargin,

      // d08's closure (its pair-filter CTE renamed pp — the mixture
      // helper owns `p`) → kept ids → source attach → t19's mixture
      // replay on the kept mass → before/after join
      "t50_dedup_remix" ->
        s"""WITH RECURSIVE ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id),
           |pp AS (SELECT pr.id_a, pr.id_b FROM pairs pr
           |  JOIN mh a ON a.id = pr.id_a JOIN mh b ON b.id = pr.id_b
           |  WHERE cast(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i])) as double) / 16
           |    >= 0.5),
           |e AS (SELECT id_a AS s, id_b AS d FROM pp
           |  UNION SELECT id_b, id_a FROM pp),
           |ids AS (SELECT DISTINCT doc_id AS id FROM u),
           |reach AS (
           |  SELECT id AS src, id AS dst FROM ids
           |  UNION
           |  SELECT r.src, e.d FROM reach r JOIN e ON e.s = r.dst),
           |keptids AS (SELECT src AS id FROM reach
           |  GROUP BY src HAVING src = min(dst)),
           |kd AS (SELECT u.doc_id, u.text FROM u
           |  JOIN keptids k ON k.id = u.doc_id),
           |bef AS (SELECT d.source AS domain, count(*) AS n_docs_before,
           |    cast(sum(len(${toksSql("u.text")})) as bigint) AS tokens_before
           |  FROM u JOIN documents d ON d.doc_id = u.doc_id % 100000
           |  GROUP BY 1),
           |${Mixture.temperatureMixtureSql(
             s"""SELECT d.source AS domain, cast(kd.doc_id as bigint) AS id,
                |    cast(len(${toksSql("kd.text")}) as bigint) AS n_tokens
                |  FROM kd JOIN documents d ON d.doc_id = kd.doc_id % 100000""".stripMargin,
             budgetTokens = 26000L)},
           |aft AS (SELECT domain, round(rate, 6) AS rate,
           |    count(*) AS n_docs_kept,
           |    cast(sum(n_tokens) as bigint) AS tokens_kept,
           |    cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) as bigint) AS n_sampled,
           |    cast(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) as bigint) AS sampled_tokens
           |  FROM v GROUP BY domain, round(rate, 6))
           |SELECT domain, n_docs_before, tokens_before, n_docs_kept,
           |  tokens_kept, rate, n_sampled, sampled_tokens
           |FROM bef JOIN aft USING (domain) ORDER BY domain""".stripMargin,

      // d08's closure chain verbatim + the B-cubed contingency table
      // in 1e6 fixed point (exact floor division per cell)
      "d22_bcubed_eval" ->
        s"""WITH RECURSIVE ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id),
           |p AS (SELECT pr.id_a, pr.id_b FROM pairs pr
           |  JOIN mh a ON a.id = pr.id_a JOIN mh b ON b.id = pr.id_b
           |  WHERE cast(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i])) as double) / 16
           |    >= 0.5),
           |e AS (SELECT id_a AS s, id_b AS d FROM p
           |  UNION SELECT id_b, id_a FROM p),
           |ids AS (SELECT DISTINCT doc_id AS id FROM u),
           |reach AS (
           |  SELECT id AS src, id AS dst FROM ids
           |  UNION
           |  SELECT r.src, e.d FROM reach r JOIN e ON e.s = r.dst),
           |lbl AS (SELECT src AS doc_id, min(dst) AS pl, src % 100000 AS tl
           |  FROM reach GROUP BY src),
           |cells AS (SELECT pl, tl, count(*) AS n_pt FROM lbl GROUP BY 1, 2),
           |np AS (SELECT pl, cast(sum(n_pt) as bigint) AS n_p FROM cells GROUP BY 1),
           |nt AS (SELECT tl, cast(sum(n_pt) as bigint) AS n_t FROM cells GROUP BY 1),
           |ag AS (SELECT cast(sum(n_pt) as bigint) AS n_items,
           |    cast(sum(n_pt * n_pt * 1000000 // n_p) as bigint) AS pfp,
           |    cast(sum(n_pt * n_pt * 1000000 // n_t) as bigint) AS rfp
           |  FROM cells JOIN np USING (pl) JOIN nt USING (tl))
           |SELECT n_items,
           |  round(cast(pfp as double)
           |    / (cast(n_items as double) * 1000000.0), 6) AS bcubed_precision,
           |  round(cast(rfp as double)
           |    / (cast(n_items as double) * 1000000.0), 6) AS bcubed_recall,
           |  round((2.0 * cast(pfp as double) * cast(rfp as double))
           |    / (cast(pfp + rfp as double) * cast(n_items as double) * 1000000.0), 6)
           |    AS bcubed_f1
           |FROM ag""".stripMargin,

      // d08's components re-canonicalized by quality argmax: the kept
      // member is the distinct-token-count maximum (ties to lowest id)
      "d15_canonical_by_quality" ->
        s"""WITH RECURSIVE ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id),
           |p AS (SELECT pr.id_a, pr.id_b FROM pairs pr
           |  JOIN mh a ON a.id = pr.id_a JOIN mh b ON b.id = pr.id_b
           |  WHERE cast(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i])) as double) / 16
           |    >= 0.5),
           |e AS (SELECT id_a AS s, id_b AS d FROM p
           |  UNION SELECT id_b, id_a FROM p),
           |ids AS (SELECT DISTINCT doc_id AS id FROM u),
           |reach AS (
           |  SELECT id AS src, id AS dst FROM ids
           |  UNION
           |  SELECT r.src, e.d FROM reach r JOIN e ON e.s = r.dst),
           |comp AS (SELECT src AS doc_id, min(dst) AS canonical_id
           |  FROM reach GROUP BY src),
           |q AS (SELECT doc_id, cast(len(list_distinct($tk)) as bigint) AS quality
           |  FROM u),
           |best AS (SELECT canonical_id, doc_id AS kept_id FROM (
           |    SELECT c.canonical_id, c.doc_id,
           |      row_number() OVER (PARTITION BY c.canonical_id
           |        ORDER BY q.quality DESC, c.doc_id ASC) AS rn
           |    FROM comp c JOIN q USING (doc_id)) t WHERE rn = 1)
           |SELECT c.doc_id, c.canonical_id, q.quality, b.kept_id,
           |  (c.doc_id = b.kept_id) AS is_kept
           |FROM comp c JOIN q USING (doc_id)
           |JOIN best b USING (canonical_id) ORDER BY doc_id""".stripMargin,

      // d27: d15's replay run TWICE from ONE banding — the full-corpus
      // closure (was_kept_before) and the survivors-only closure over
      // the frozen pair set minus pairs touching a noticed id (the
      // engine's incremental identity), each with its own
      // quality-argmax election
      "d27_takedown_reelect" ->
        s"""WITH RECURSIVE ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id),
           |p AS (SELECT pr.id_a, pr.id_b FROM pairs pr
           |  JOIN mh a ON a.id = pr.id_a JOIN mh b ON b.id = pr.id_b
           |  WHERE cast(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i])) as double) / 16
           |    >= 0.5),
           |e AS (SELECT id_a AS s, id_b AS d FROM p
           |  UNION SELECT id_b, id_a FROM p),
           |ids AS (SELECT DISTINCT doc_id AS id FROM u),
           |reach AS (
           |  SELECT id AS src, id AS dst FROM ids
           |  UNION
           |  SELECT r.src, e.d FROM reach r JOIN e ON e.s = r.dst),
           |comp AS (SELECT src AS doc_id, min(dst) AS canonical_id
           |  FROM reach GROUP BY src),
           |q AS (SELECT doc_id, cast(len(list_distinct($tk)) as bigint) AS quality
           |  FROM u),
           |best AS (SELECT canonical_id, doc_id AS kept_id FROM (
           |    SELECT c.canonical_id, c.doc_id,
           |      row_number() OVER (PARTITION BY c.canonical_id
           |        ORDER BY q.quality DESC, c.doc_id ASC) AS rn
           |    FROM comp c JOIN q USING (doc_id)) t WHERE rn = 1),
           |sids AS (SELECT id FROM ids WHERE id % 37 <> 5),
           |es AS (SELECT s, d FROM e WHERE s % 37 <> 5 AND d % 37 <> 5),
           |reach2 AS (
           |  SELECT id AS src, id AS dst FROM sids
           |  UNION
           |  SELECT r.src, es.d FROM reach2 r JOIN es ON es.s = r.dst),
           |comp2 AS (SELECT src AS doc_id, min(dst) AS canonical_id
           |  FROM reach2 GROUP BY src),
           |best2 AS (SELECT canonical_id, doc_id AS kept_id FROM (
           |    SELECT c.canonical_id, c.doc_id,
           |      row_number() OVER (PARTITION BY c.canonical_id
           |        ORDER BY q.quality DESC, c.doc_id ASC) AS rn
           |    FROM comp2 c JOIN q USING (doc_id)) t WHERE rn = 1)
           |SELECT c.doc_id, c.canonical_id, q.quality, b.kept_id,
           |  (c.doc_id = b.kept_id) AS is_kept,
           |  (c.doc_id = bf.kept_id) AS was_kept_before
           |FROM comp2 c JOIN q USING (doc_id)
           |JOIN best2 b USING (canonical_id)
           |JOIN comp cf ON cf.doc_id = c.doc_id
           |JOIN best bf ON bf.canonical_id = cf.canonical_id
           |ORDER BY doc_id""".stripMargin,

      // the shard ids live at >= 100000, the indexed corpus below;
      // min matched existing id per new doc, LSH-band candidates
      // verified at est_sim >= 0.5 — identical to the engine's
      // broadcast probe against the persisted index
      "d09_incremental_neardup" ->
        s"""WITH ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |m AS (SELECT x.id AS nid, min(y.id) AS match_id
           |  FROM bands x JOIN bands y
           |    ON x.band_no = y.band_no AND x.sig = y.sig
           |   AND x.id >= 100000 AND y.id < 100000
           |  JOIN mh a ON a.id = x.id JOIN mh b ON b.id = y.id
           |  WHERE cast(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i])) as double) / 16
           |    >= 0.5
           |  GROUP BY x.id)
           |SELECT n.id AS doc_id, coalesce(m.match_id, n.id) AS canonical_id,
           |  m.match_id IS NULL AS is_new
           |FROM (SELECT doc_id + 100000 AS id FROM documents) n
           |LEFT JOIN m ON m.nid = n.id ORDER BY doc_id""".stripMargin,

      // distinct eval shingles (test split of the hash split) hit
      // against each train doc's distinct shingles — counts match the
      // engine's broadcast shingle join exactly
      "d10_decontaminate" ->
        s"""WITH ${shingleSql("SELECT doc_id, text FROM documents")},
           |sp AS (SELECT doc_id AS id, ${Mixture.splitColumnSql("doc_id")} AS split
           |  FROM documents),
           |ev AS (SELECT DISTINCT s2.sh FROM sh s2 JOIN sp ON sp.id = s2.id
           |  WHERE sp.split = 'test'),
           |hits AS (SELECT s3.id, count(*) AS n_shared FROM sh s3
           |  JOIN ev ON ev.sh = s3.sh
           |  JOIN sp ON sp.id = s3.id AND sp.split = 'train'
           |  GROUP BY s3.id)
           |SELECT sp.id AS doc_id, coalesce(h.n_shared, 0) AS n_shared,
           |  h.n_shared IS NOT NULL AS is_contaminated
           |FROM sp LEFT JOIN hits h ON h.id = sp.id
           |WHERE sp.split = 'train' ORDER BY doc_id""".stripMargin,

      // consecutive 10-token chunks as "lines"; a line is boilerplate
      // when its rolling hash appears in >= 2 distinct documents
      "t12_line_dedup" ->
        s"""WITH u AS ($mutCorpusSql),
           |t AS (SELECT doc_id AS id, ${toksSql("text")} AS toks FROM u),
           |l AS (SELECT id, unnest(list_transform(range(0,
           |    greatest(cast(ceil(len(toks) / 10.0) as int), 1)),
           |    i -> array_to_string(toks[i*10+1 : i*10+10], ' '))) AS line FROM t),
           |ld AS (SELECT id, ${rollSql("line")} AS lh FROM l),
           |p AS (SELECT lh, count(DISTINCT id) AS ndocs FROM ld GROUP BY lh)
           |SELECT ld.id AS doc_id, count(*) AS n_lines,
           |  cast(sum(CASE WHEN p.ndocs >= 2 THEN 1 ELSE 0 END) as bigint)
           |    AS n_dup_lines,
           |  round(cast(sum(CASE WHEN p.ndocs >= 2 THEN 1 ELSE 0 END) as double)
           |    / count(*), 6) AS dup_ratio
           |FROM ld JOIN p USING (lh) GROUP BY ld.id ORDER BY doc_id""".stripMargin,

      // identical double arithmetic to the engine: scale = max|x|/127,
      // codes = floor(x/scale + 0.5), left-fold error sums
      "s11_int8_quantize" ->
        s"""WITH vv AS (SELECT vec_id,
           |    list_transform(embedding, x -> cast(x as double)) AS v
           |  FROM embeddings),
           |sc AS (SELECT vec_id, v,
           |    list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS scale
           |  FROM vv),
           |c AS (SELECT vec_id, scale,
           |    list_transform(v, x -> cast(floor(x / scale + 0.5) as int)) AS codes, v
           |  FROM sc),
           |e AS (SELECT vec_id, scale, codes,
           |    list_transform(range(1, len(v) + 1),
           |      i -> abs(cast(codes[i] as double) * scale - v[i])) AS errs
           |  FROM c)
           |SELECT vec_id, round(scale, 6) AS scale,
           |  round(list_aggregate(errs, 'max'), 6) AS max_err,
           |  round(list_reduce(errs, (a, b) -> a + b) / len(errs), 6) AS mean_err,
           |  array_to_string(codes, ',') AS codes_csv
           |FROM e ORDER BY vec_id""".stripMargin,

      "d05_simhash" ->
        s"""WITH t AS (SELECT doc_id AS id,
           |  list_transform($tk, tok -> ${rollSql("tok")}) AS hashes FROM documents)
           |SELECT id, cast(list_aggregate(list_transform(range(0, 32), b ->
           |  CASE WHEN 2 * len(list_filter(hashes,
           |         h -> cast(floor(h / pow(2.0, b)) as bigint) % 2 = 1)) > len(hashes)
           |  THEN cast(pow(2.0, b) as bigint) ELSE 0 END), 'sum') as bigint) AS simhash
           |FROM t ORDER BY id""".stripMargin,

      "d06_simhash_pairs" ->
        s"""WITH u AS ($mutCorpusSql),
           |t AS (SELECT doc_id AS id,
           |  list_transform(${toksSql("text")}, tok -> ${rollSql("tok")}) AS hashes FROM u),
           |sim AS (SELECT id, cast(list_aggregate(list_transform(range(0, 32), b ->
           |  CASE WHEN 2 * len(list_filter(hashes,
           |         h -> cast(floor(h / pow(2.0, b)) as bigint) % 2 = 1)) > len(hashes)
           |  THEN cast(pow(2.0, b) as bigint) ELSE 0 END), 'sum') as bigint) AS simhash
           |  FROM t),
           |bands AS (
           |  SELECT id, simhash, 0 AS band_no, (simhash >> 0) & 255 AS sig FROM sim
           |  UNION ALL SELECT id, simhash, 1, (simhash >> 8) & 255 FROM sim
           |  UNION ALL SELECT id, simhash, 2, (simhash >> 16) & 255 FROM sim
           |  UNION ALL SELECT id, simhash, 3, (simhash >> 24) & 255 FROM sim),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b,
           |    x.simhash AS sh_a, y.simhash AS sh_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id)
           |SELECT id_a, id_b, cast(bit_count(xor(sh_a, sh_b)) as bigint) AS hamming
           |FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3
           |ORDER BY id_a, id_b""".stripMargin,

      // 64-bit simhash spelled as two 32-bit halves (DuckDB BIGINT <<
      // overflows at bit 63): bit b's vote is the parity of portable-
      // hash family member b over the token's rolling hash; bands 0,1
      // come from lo, bands 2,3 from hi; hamming = sum of half-xors
      "d12_simhash64_pairs" -> {
        def half(lo: Int, hi: Int, shift: Int) =
          s"""cast(list_aggregate(list_transform(range($lo, $hi), b ->
             |  CASE WHEN 2 * len(list_filter(hashes,
             |         h -> ((2*b+1)*h + b*b + 7) % $P % 2 = 1)) > len(hashes)
             |  THEN cast(pow(2.0, b - $shift) as bigint) ELSE 0 END),
             |  'sum') as bigint)""".stripMargin
        s"""WITH u AS ($mutCorpusSql),
           |t AS (SELECT doc_id AS id,
           |  list_transform(${toksSql("text")}, tok -> ${rollSql("tok")}) AS hashes FROM u),
           |sim AS (SELECT id, ${half(0, 32, 0)} AS lo, ${half(32, 64, 32)} AS hi FROM t),
           |bands AS (
           |  SELECT id, lo, hi, 0 AS band_no, (lo >> 0) & 65535 AS sig FROM sim
           |  UNION ALL SELECT id, lo, hi, 1, (lo >> 16) & 65535 FROM sim
           |  UNION ALL SELECT id, lo, hi, 2, (hi >> 0) & 65535 FROM sim
           |  UNION ALL SELECT id, lo, hi, 3, (hi >> 16) & 65535 FROM sim),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b,
           |    x.lo AS lo_a, x.hi AS hi_a, y.lo AS lo_b, y.hi AS hi_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id)
           |SELECT id_a, id_b,
           |  cast(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) as bigint) AS hamming
           |FROM pairs
           |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      },

      // positional 8-token window-hash postings (df 2..1000), pair
      // equi-join on the hash, gaps-and-islands per (pair, diagonal)
      "d13_long_spans" ->
        s"""WITH u AS ($mutCorpusSql),
           |t AS (SELECT cast(doc_id as bigint) AS id, ${toksSql("text")} AS toks FROM u),
           |w AS (SELECT id, unnest(range(1, len(toks) - 8 + 2)) AS p, toks
           |  FROM t WHERE len(toks) >= 8),
           |h AS (SELECT id, p,
           |  ${rollSql("list_aggregate(toks[p : p + 7], 'string_agg', ' ')")} AS wh FROM w),
           |df AS (SELECT wh FROM h GROUP BY wh HAVING count(*) BETWEEN 2 AND 1000),
           |s AS (SELECT h.id, h.p, h.wh FROM h JOIN df USING (wh)),
           |j AS (SELECT a.id AS id_a, b.id AS id_b, a.p AS pa, b.p AS pb
           |  FROM s a JOIN s b ON a.wh = b.wh AND a.id < b.id),
           |d AS (SELECT id_a, id_b, pa - pb AS diag, pa,
           |    pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
           |  FROM j),
           |runs AS (SELECT id_a, id_b, count(*) AS run
           |  FROM d GROUP BY id_a, id_b, diag, grp)
           |SELECT id_a, id_b, cast(sum(run) as bigint) AS n_shared, max(run) AS max_run,
           |  max(run) + 7 AS span_tokens
           |FROM runs GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin,

      // same positional window hashes, distinct-doc df >= 2, islands
      // per doc (windows [p, p+7] merge while next start <= prev + 8)
      "d21_dup_spans" ->
        s"""WITH u AS ($mutCorpusSql),
           |t AS (SELECT cast(doc_id as bigint) AS id, ${toksSql("text")} AS toks FROM u),
           |w AS (SELECT id, unnest(range(1, len(toks) - 8 + 2)) AS p, toks
           |  FROM t WHERE len(toks) >= 8),
           |h AS (SELECT id, p,
           |  ${rollSql("list_aggregate(toks[p : p + 7], 'string_agg', ' ')")} AS wh FROM w),
           |cd AS (SELECT wh FROM h GROUP BY wh HAVING count(DISTINCT id) >= 2),
           |m AS (SELECT id, p FROM h JOIN cd USING (wh)),
           |b AS (SELECT id, p, CASE WHEN lag(p) OVER (PARTITION BY id ORDER BY p) IS NULL
           |    OR p > lag(p) OVER (PARTITION BY id ORDER BY p) + 8 THEN 1 ELSE 0 END AS brk
           |  FROM m),
           |g AS (SELECT id, p, cast(sum(brk) OVER (PARTITION BY id ORDER BY p) as bigint) AS grp
           |  FROM b)
           |SELECT id AS doc_id, min(p) AS span_start, max(p) + 7 AS span_end,
           |  max(p) + 7 - min(p) + 1 AS span_tokens
           |FROM g GROUP BY id, grp ORDER BY doc_id, span_start""".stripMargin,

      "d07_embedding_neardup" ->
        s"""WITH u AS (
           |  SELECT cast(vec_id as bigint) AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v
           |  FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 100000,
           |    list_transform(embedding, x -> cast(x as double) * 2)
           |  FROM embeddings),
           |b AS (SELECT id, v, (id % 100000) // 50 AS block FROM u)
           |SELECT x.id AS id_a, y.id AS id_b,
           |  round(${cosSql("x.v", "y.v")}, 6) AS cos_sim
           |FROM b x JOIN b y ON x.block = y.block AND x.id < y.id
           |WHERE ${cosSql("x.v", "y.v")} >= 0.95
           |ORDER BY id_a, id_b""".stripMargin,

      "s01_knn_bruteforce" ->
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings)
           |SELECT q_id, n_id, rn AS rnk, cos_sim FROM (
           |  SELECT q.id AS q_id, n.id AS n_id,
           |    round(${cosSql("q.v", "n.v")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY q.id
           |      ORDER BY ${cosSql("q.v", "n.v")} DESC, n.id ASC) AS rn
           |  FROM e q JOIN e n ON n.id <> q.id
           |  WHERE q.id < 5) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin,

      "s04_ivf_topk" ->
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |c AS (SELECT id AS c_id, v AS cv FROM e WHERE id < 32),
           |asg AS (
           |  SELECT id AS n_id, v AS n_vec, c_id FROM (
           |    SELECT e.id, e.v, c.c_id,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, c) t WHERE rn = 1),
           |probe AS (
           |  SELECT q_id, q_vec, c_id FROM (
           |    SELECT e.id AS q_id, e.v AS q_vec, c.c_id,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, c WHERE e.id < 5) t WHERE rn <= 4)
           |SELECT q_id, n_id, rn AS rnk, cos_sim FROM (
           |  SELECT p.q_id, a.n_id, round(${cosSql("p.q_vec", "a.n_vec")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY p.q_id
           |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin,

      // s04's probed-list skeleton over the FIXED-POINT TRAINED
      // centroids — the full integer Lloyd training replayed in the
      // CTE chain, then assignment, nprobe=4 probe, exact cosine rank
      "s23_ivf_trained_topk" ->
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |${ivfFpCentSql(nlist = 32, iters = 10, sampleN = 4096)},
           |asg AS (
           |  SELECT id AS n_id, v AS n_vec, c_id FROM (
           |    SELECT e.id, e.v, c.c_id,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c) t WHERE rn = 1),
           |probe AS (
           |  SELECT q_id, q_vec, c_id FROM (
           |    SELECT e.id AS q_id, e.v AS q_vec, c.c_id,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c WHERE e.id < 5) t WHERE rn <= 4)
           |SELECT q_id, n_id, rn AS rnk, cos_sim FROM (
           |  SELECT p.q_id, a.n_id, round(${cosSql("p.q_vec", "a.n_vec")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY p.q_id
           |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin,

      // s31: s23's trained-IVF replay with SOFT assignment — every
      // corpus vector lands in its 2 best lists (rn <= 2), candidate
      // pairs dedup on (q_id, n_id) before the exact rank
      "s31_ivf_multiprobe" ->
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |${ivfFpCentSql(nlist = 32, iters = 10, sampleN = 4096)},
           |asg AS (
           |  SELECT id AS n_id, v AS n_vec, c_id FROM (
           |    SELECT e.id, e.v, c.c_id,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c) t WHERE rn <= 2),
           |probe AS (
           |  SELECT q_id, q_vec, c_id FROM (
           |    SELECT e.id AS q_id, e.v AS q_vec, c.c_id,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c WHERE e.id < 5) t WHERE rn <= 4),
           |cand AS (
           |  SELECT p.q_id, a.n_id, max(${cosSql("p.q_vec", "a.n_vec")}) AS cosv
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id
           |  GROUP BY 1, 2)
           |SELECT q_id, n_id, rn AS rnk, cos_sim FROM (
           |  SELECT q_id, n_id, round(cosv, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY cosv DESC, n_id ASC) AS rn
           |  FROM cand) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin,

      // s30: the CORPUS-SCALED replay — geometry derived from count(*)
      // (nlist = greatest(32, ceil(n/64)), ns = ceil(sqrt(min(nl,
      // |sample|)))), hash-seed fixed-point training, two-level
      // routing, then the exact rank within the probed cells; the
      // engine's block join + bounded aggregator must reproduce this
      // row-for-row at ANY scale factor
      "s30_knn_graph" ->
        s"""${scaledGraphPreludeSql()}
           |SELECT q_id, n_id, rn AS rnk, cos_sim FROM (
           |  SELECT p.q_id, a.n_id, round(${cosSql("p.q_vec", "a.n_vec")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY p.q_id
           |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin,

      // s39: s30's replay with TWO-LEVEL routing — k-center super
      // seeds over the trained centroids (exact-integer dots, the
      // trainer's own unrolled-round discipline), per-centroid super
      // assignment, per-row best super, probes confined to that cell
      "s39_knn_graph_2level" -> {
        val ns = 6
        val sdot = (a: String, b: String) =>
          s"""cast(list_sum(list_transform(range(1, 65),
             |        j -> $a[j] * $b[j])) as bigint)""".stripMargin
        val seedRounds = (1 until ns).map { r =>
          s"""smd$r AS (SELECT m.c_id, m.cv,
             |    greatest(m.md, ${sdot("m.cv", "s.cv")}) AS md
             |  FROM smd${r - 1} m, ss${r - 1} s),
             |ss$r AS (SELECT c_id, cv FROM smd$r
             |  ORDER BY md ASC, c_id ASC LIMIT 1)""".stripMargin
        }.mkString(",\n")
        val superUnion = (0 until ns)
          .map(r => s"SELECT $r AS s_id, cv FROM ss$r")
          .mkString("\n  UNION ALL ")
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |${ivfFpCentSql(nlist = 32, iters = 10, sampleN = 4096)},
           |ss0 AS (SELECT c_id, cv FROM cent ORDER BY c_id LIMIT 1),
           |smd0 AS (SELECT c.c_id, c.cv, ${sdot("c.cv", "s.cv")} AS md
           |  FROM cent c, ss0 s),
           |$seedRounds,
           |supers AS ($superUnion),
           |sasg AS (SELECT c_id, cv, s_id FROM (
           |    SELECT c.c_id, c.cv, s.s_id,
           |      row_number() OVER (PARTITION BY c.c_id
           |        ORDER BY ${sdot("c.cv", "s.cv")} DESC, s.s_id ASC) AS rn
           |    FROM cent c, supers s) t WHERE rn = 1),
           |rsup AS (SELECT id, v, s_id FROM (
           |    SELECT e.id, e.v, s.s_id,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "s.cv")} DESC, s.s_id ASC) AS rn
           |    FROM e, supers s) t WHERE rn <= 3),
           |asg AS (
           |  SELECT id AS n_id, v AS n_vec, c_id FROM (
           |    SELECT r.id, r.v, a.c_id,
           |      row_number() OVER (PARTITION BY r.id
           |        ORDER BY ${cosSql("r.v", "a.cv")} DESC, a.c_id ASC) AS rn
           |    FROM rsup r JOIN sasg a ON a.s_id = r.s_id) t WHERE rn = 1),
           |probe AS (
           |  SELECT q_id, q_vec, c_id FROM (
           |    SELECT r.id AS q_id, r.v AS q_vec, a.c_id,
           |      row_number() OVER (PARTITION BY r.id
           |        ORDER BY ${cosSql("r.v", "a.cv")} DESC, a.c_id ASC) AS rn
           |    FROM rsup r JOIN sasg a ON a.s_id = r.s_id) t WHERE rn <= 4)
           |SELECT q_id, n_id, rn AS rnk, cos_sim FROM (
           |  SELECT p.q_id, a.n_id, round(${cosSql("p.q_vec", "a.n_vec")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY p.q_id
           |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin
      },

      // s40: both routings replayed (flat rank; s39's super chain),
      // exact candidate counts, brute-force truth, per-arm recall
      "s40_routing_frontier" -> {
        val ns = 6
        val sdot = (a: String, b: String) =>
          s"""cast(list_sum(list_transform(range(1, 65),
             |        j -> $a[j] * $b[j])) as bigint)""".stripMargin
        val seedRounds = (1 until ns).map { r =>
          s"""smd$r AS (SELECT m.c_id, m.cv,
             |    greatest(m.md, ${sdot("m.cv", "s.cv")}) AS md
             |  FROM smd${r - 1} m, ss${r - 1} s),
             |ss$r AS (SELECT c_id, cv FROM smd$r
             |  ORDER BY md ASC, c_id ASC LIMIT 1)""".stripMargin
        }.mkString(",\n")
        val superUnion = (0 until ns)
          .map(r => s"SELECT $r AS s_id, cv FROM ss$r")
          .mkString("\n  UNION ALL ")
        def armSql(tag: String, rank: String) =
          s"""${tag}asg AS (SELECT id AS n_id, c_id FROM $rank WHERE rn = 1),
             |${tag}cand AS (SELECT cast(count(*) as bigint) AS n_candidates
             |  FROM (SELECT id AS q_id, c_id FROM $rank) p
             |  JOIN ${tag}asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id),
             |${tag}knn AS (SELECT q_id, n_id FROM (
             |    SELECT p.q_id, a.n_id,
             |      row_number() OVER (PARTITION BY p.q_id
             |        ORDER BY ${cosSql("qv.v", "nv.v")} DESC, a.n_id ASC) AS rn
             |    FROM (SELECT id AS q_id, c_id FROM $rank) p
             |    JOIN ${tag}asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id
             |    JOIN e qv ON qv.id = p.q_id
             |    JOIN e nv ON nv.id = a.n_id) t WHERE rn <= 5),
             |${tag}hits AS (SELECT cast(count(*) as bigint) AS n_hits
             |  FROM ${tag}knn f JOIN ex ON ex.q_id = f.q_id AND ex.n_id = f.n_id)""".stripMargin
        def armSel(name: String, tag: String) =
          s"""SELECT '$name' AS arm, (SELECT n FROM nq) AS n_queries,
             |  cast(5 as bigint) AS k,
             |  (SELECT n_candidates FROM ${tag}cand) AS n_candidates,
             |  (SELECT n_hits FROM ${tag}hits) AS n_hits,
             |  round(cast((SELECT n_hits FROM ${tag}hits) as double)
             |    / ((SELECT n FROM nq) * 5), 6) AS recall,
             |  round(cast((SELECT n_candidates FROM ${tag}cand) as double)
             |    / (SELECT n FROM nall), 6) AS cand_per_query""".stripMargin
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |${ivfFpCentSql(nlist = 32, iters = 10, sampleN = 4096)},
           |ss0 AS (SELECT c_id, cv FROM cent ORDER BY c_id LIMIT 1),
           |smd0 AS (SELECT c.c_id, c.cv, ${sdot("c.cv", "s.cv")} AS md
           |  FROM cent c, ss0 s),
           |$seedRounds,
           |supers AS ($superUnion),
           |sasg AS (SELECT c_id, cv, s_id FROM (
           |    SELECT c.c_id, c.cv, s.s_id,
           |      row_number() OVER (PARTITION BY c.c_id
           |        ORDER BY ${sdot("c.cv", "s.cv")} DESC, s.s_id ASC) AS rn
           |    FROM cent c, supers s) t WHERE rn = 1),
           |frank AS (SELECT id, c_id, rn FROM (
           |    SELECT e.id, c.c_id,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c) t WHERE rn <= 4),
           |rsup AS (SELECT id, v, s_id FROM (
           |    SELECT e.id, e.v, s.s_id,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "s.cv")} DESC, s.s_id ASC) AS rn
           |    FROM e, supers s) t WHERE rn <= 3),
           |trank AS (SELECT id, c_id, rn FROM (
           |    SELECT r.id, a.c_id,
           |      row_number() OVER (PARTITION BY r.id
           |        ORDER BY ${cosSql("r.v", "a.cv")} DESC, a.c_id ASC) AS rn
           |    FROM rsup r JOIN sasg a ON a.s_id = r.s_id) t WHERE rn <= 4),
           |nall AS (SELECT cast(count(*) as bigint) AS n FROM e),
           |qmv AS (SELECT greatest(1, (SELECT n FROM nall) // 500) AS qm),
           |ex AS (SELECT q_id, n_id FROM (
           |    SELECT q.id AS q_id, n.id AS n_id,
           |      row_number() OVER (PARTITION BY q.id
           |        ORDER BY ${cosSql("q.v", "n.v")} DESC, n.id ASC) AS rn
           |    FROM e q JOIN e n ON n.id <> q.id
           |    WHERE (3 * (q.id % 1000000007) + 8) % 1000000007
           |      % (SELECT qm FROM qmv) = 0) t WHERE rn <= 5),
           |nq AS (SELECT cast(count(*) as bigint) AS n FROM e
           |  WHERE (3 * (id % 1000000007) + 8) % 1000000007
           |    % (SELECT qm FROM qmv) = 0),
           |${armSql("f", "frank")},
           |${armSql("t2", "trank")}
           |${armSel("flat", "f")}
           |UNION ALL ${armSel("two_level", "t2")}
           |ORDER BY arm""".stripMargin
      },

      // s32: s30's CORPUS-SCALED k-NN-graph replay + the mutual filter
      // + q51's min-label recursive closure over the undirected edges
      "s32_knn_graph_components" ->
        s"""${scaledGraphPreludeSql(recursive = true)},
           |knn AS MATERIALIZED (SELECT q_id, n_id FROM (
           |  SELECT p.q_id, a.n_id,
           |    row_number() OVER (PARTITION BY p.q_id
           |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
           |WHERE rn <= 5),
           |mu AS (SELECT a.q_id AS u, a.n_id AS v
           |  FROM knn a JOIN knn b ON b.q_id = a.n_id AND b.n_id = a.q_id
           |  WHERE a.q_id < a.n_id),
           |sym AS (SELECT u, v FROM mu UNION ALL SELECT v, u FROM mu),
           |nodes AS (SELECT id AS u FROM e),
           |walk(u, l) AS (
           |  SELECT u, u FROM nodes
           |  UNION
           |  SELECT s2.u, w.l FROM walk w JOIN sym s2 ON s2.v = w.u)
           |SELECT u AS vec_id, min(l) AS component FROM walk
           |GROUP BY u ORDER BY vec_id""".stripMargin,

      // s34: s30's CORPUS-SCALED k-NN-graph replay + the ratio-margin
      // readout — neighborhood sums over 6-dp fixed-point cosines
      // (exact bigint), margin = one double division, keep gate
      // cross-multiplied
      "s34_margin_pairs" ->
        s"""${scaledGraphPreludeSql()},
           |knn AS MATERIALIZED (SELECT q_id, n_id, rn AS rnk, cos_sim,
           |  cast(round(cos_sim * 1000000) as bigint) AS cos_fp FROM (
           |  SELECT p.q_id, a.n_id, round(${cosSql("p.q_vec", "a.n_vec")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY p.q_id
           |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
           |WHERE rn <= 5),
           |st AS (SELECT q_id AS id, sum(cos_fp) AS s, count(*) AS c
           |  FROM knn GROUP BY 1)
           |SELECT k.q_id, k.n_id, k.rnk, k.cos_sim,
           |  CASE WHEN sx.s * sy.c + sy.s * sx.c > 0 THEN
           |    round(cast(2 * k.cos_fp * sx.c * sy.c as double) /
           |          cast(sx.s * sy.c + sy.s * sx.c as double), 6) END AS margin,
           |  sx.s * sy.c + sy.s * sx.c > 0 AND
           |    2 * k.cos_fp * sx.c * sy.c * 100 >=
           |      (sx.s * sy.c + sy.s * sx.c) * 102 AS keep
           |FROM knn k JOIN st sx ON sx.id = k.q_id
           |JOIN st sy ON sy.id = k.n_id
           |ORDER BY q_id, rnk""".stripMargin,

      // s35: s30's graph replay at degree 10 (trained quantizer
      // included) made UNDIRECTED, + the seeded beam search — seed
      // top-16 over the id%64 layer, three expand-dedup-exact-score-
      // prune rounds, final top-5 read from the last candidate set
      // (cos desc, id asc throughout)
      "s35_graph_ann" -> graphAnnReplaySql(
        "SELECT id AS q_id, v AS q_vec FROM e WHERE id < 5"),

      // st50: the same beam-search replay with the query side set to
      // the +100000 arriving shard — stream serving == batch math
      "st50_stream_graph_probe" -> graphAnnReplaySql(
        "SELECT id + 100000 AS q_id, v AS q_vec FROM e"),

      // s43: s35's replay with the tombstone mask on the SCORING
      // table only — the graph asset (knn/knnu) is still built over
      // everyone; masked ids cannot seed, hold a beam slot, or be read
      "s43_tombstone_serving" -> graphAnnReplaySql(
        "SELECT id AS q_id, v AS q_vec FROM e WHERE id < 5",
        scoreMask = "id % 10 <> 3"),

      // st59: the SAME replay as s43 — deliberately: the engine drives
      // the mask from st54's streamed intent table (drop rows
      // anti-joined), and hash-green against the closed-form mask
      // proves intent-derived serving == predicate-mask serving
      "st59_takedown_to_serving" -> graphAnnReplaySql(
        "SELECT id AS q_id, v AS q_vec FROM e WHERE id < 5",
        scoreMask = "id % 10 <> 3"),

      // s46: the fleet audit — per shard, the undirected edge set of
      // the shard-local scaled build recomputed from scratch (the
      // knnu spelling of the st58 replay), emitted as generation-0
      // manifest rows; the engine reads the actual manifests + stored
      // tables
      "s46_shard_manifest" -> {
        val nSh = 4
        (0 until nSh).map { sh =>
          val ef = s"${graft.operators.Mixture.rendezvousShardSql("vec_id", nSh)} = $sh"
          s"""SELECT 'knn_shard_${nSh}_10' AS asset, cast($sh as bigint) AS shard,
             |  cast(0 as bigint) AS generation, t.c AS n_rows,
             |  true AS serving, t.c AS n_rows_read
             |FROM (SELECT count(*) AS c FROM (
             |${scaledGraphPreludeSql(eFilter = ef)},
             |knn AS (SELECT q_id, n_id FROM (
             |  SELECT p.q_id, a.n_id, row_number() OVER (PARTITION BY p.q_id
             |    ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
             |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) x
             |  WHERE rn <= 10),
             |knnu AS (SELECT DISTINCT q_id, n_id FROM (
             |  SELECT q_id, n_id FROM knn UNION ALL SELECT n_id, q_id FROM knn) y)
             |SELECT * FROM knnu) z) t""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY shard")
      },

      // s45: both generations recomputed from scratch — generation 0 =
      // the full ranked build's row count, generation 1 = the
      // survivors-rebuild's (s42's spelling), tombstones = the notice
      // batch; serving = the highest generation. The engine reads the
      // MANIFEST (+ the stored tables), so hash-green pins
      // metadata == storage == recomputation.
      "s45_asset_manifest" ->
        s"""WITH g0 AS (SELECT count(*) AS c FROM (
           |${rankedKnnReplaySql()}
           |) t0),
           |g1 AS (SELECT count(*) AS c FROM (
           |${rankedKnnReplaySql(routeFilter = "id % 10 <> 3")}
           |) t1),
           |g2 AS (SELECT count(*) AS c FROM (
           |$upsertApplySql
           |) t2),
           |nu AS (SELECT count(*) AS c FROM (
           |${graphUpsertReplaySql(nOwners = None)}
           |) tu),
           |nt AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 10 = 3)
           |SELECT 'knn_ranked_5_64_4_3' AS asset,
           |  cast(0 as bigint) AS generation,
           |  (SELECT c FROM g0) AS n_rows,
           |  cast(0 as bigint) AS n_tombstones,
           |  cast(0 as bigint) AS n_upserts,
           |  false AS serving,
           |  (SELECT c FROM g0) AS n_rows_read
           |UNION ALL
           |SELECT 'knn_ranked_5_64_4_3', cast(1 as bigint),
           |  (SELECT c FROM g1), (SELECT c FROM nt), cast(0 as bigint),
           |  false, (SELECT c FROM g1)
           |UNION ALL
           |SELECT 'knn_ranked_5_64_4_3', cast(2 as bigint),
           |  (SELECT c FROM g2), cast(0 as bigint), (SELECT c FROM nu),
           |  true, (SELECT c FROM g2)
           |ORDER BY generation""".stripMargin,

      // s44: s35's replay over the FROZEN-QUANTIZER build (training
      // from id % 10 <> 7, routing over everyone — d26's spelling);
      // the engine serves the incrementally-MAINTAINED graph, so
      // hash-green proves maintained-asset serving == rebuilt-asset
      // serving end to end
      "s44_graph_serve_upserted" -> graphAnnReplaySql(
        "SELECT id AS q_id, v AS q_vec FROM e WHERE id < 5",
        trainFilter = "id % 10 <> 7"),

      // st58: one full shard-local replay per rendezvous shard — the
      // corpus CTE restricted to the shard (geometry, training,
      // routing, graph, seeds, scoring all shard-local), the query
      // side restricted to the arrivals whose OWN key routes there —
      // then unioned. Hash-green proves the sharded layout serves
      // exactly what nShards independent st50 deployments over the
      // shard slices would.
      "st58_sharded_graph_probe" -> shardedServingReplaySql(nSh = 4),

      // st60: st58's per-shard replay with s43's scoreMask arm on
      // every shard — the full composed stack (sharded assets +
      // intent-driven masking) equals nShards independent masked
      // deployments
      "st60_sharded_takedown_serving" -> shardedServingReplaySql(
        nSh = 4, scoreMask = "id % 10 <> 3"),

      // st62: the 4 → 5 resize replay — old shards build over their
      // kFrom slice (the reused stored asset's corpus) and score over
      // their kTo slice (movers masked), the new shard builds over
      // its mover sliver; queries routed under the new layout
      "st62_shard_resize_serving" -> shardedResizeReplaySql(
        kFrom = 4, kTo = 5),

      // st63: the 5 → 4 failover replay — surviving arms build over
      // their old 5-layout slice, score over their 4-layout slice
      // (own + gained), seeds OR-widened by the gained-orphan set
      "st63_shard_failover_serving" -> shardedFailoverReplaySql(
        kFrom = 5),

      // st64: router ranking (max cos vs each shard's vec_id %
      // routerMod slice, ties → low shard), top-2 shard walks, exact
      // top-k merge by (rounded cos DESC, id ASC)
      "st64_scatter_gather_serving" -> (scatterGatherReplaySql(
        nSh = 4, m = 2, routerMod = 64, k = 5) + "\nORDER BY q_id, rnk"),

      // s47: the same replay over the 5 benchmark corpus queries
      // (unshifted ids — s35's convention for the batch twins)
      "s47_scatter_gather_batch" -> (scatterGatherReplaySql(
        nSh = 4, m = 2, routerMod = 64, k = 5,
        qIdSql = "vec_id", qWhere = "vec_id < 5") + "\nORDER BY q_id, rnk"),

      // s48: the scatter-breadth recall frontier — merged sets for
      // m = 1, 2, 4 hit-joined against brute-force truth
      "s48_scatter_recall" -> scatterRecallSql(
        nSh = 4, ms = Seq(1, 2, 4), routerMod = 64, k = 5),

      // s36: s35's replay (corpus-scaled build) with rn exposed at
      // each beam, top-5 prefix per arm (rounds 0/1/2/3), hit-joined
      // against brute-force truth
      "s36_graph_ann_recall" ->
        s"""${scaledGraphPreludeSql()},
           |knn AS MATERIALIZED (SELECT q_id, n_id FROM (
           |  SELECT p.q_id, a.n_id,
           |    row_number() OVER (PARTITION BY p.q_id
           |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
           |WHERE rn <= 10),
           |knnu AS MATERIALIZED (SELECT DISTINCT q_id, n_id FROM (
           |  SELECT q_id, n_id FROM knn
           |  UNION ALL SELECT n_id, q_id FROM knn) t),
           |qs AS (SELECT id AS q_id, v AS q_vec FROM e WHERE id < 5),
           |truth AS (SELECT q_id, n_id FROM (
           |  SELECT qq.q_id, e.id AS n_id,
           |    row_number() OVER (PARTITION BY qq.q_id
           |      ORDER BY ${cosSql("qq.q_vec", "e.v")} DESC, e.id ASC) AS rn
           |  FROM qs qq JOIN e ON e.id <> qq.q_id) t WHERE rn <= 5),
           |s0 AS (SELECT q_id, n_id, rn FROM (
           |  SELECT qq.q_id, e.id AS n_id,
           |    row_number() OVER (PARTITION BY qq.q_id
           |      ORDER BY ${cosSql("qq.q_vec", "e.v")} DESC, e.id ASC) AS rn
           |  FROM qs qq JOIN e ON e.id % 64 = 0 AND e.id <> qq.q_id) t
           |  WHERE rn <= 16),
           |c1 AS (SELECT DISTINCT q_id, n_id FROM (
           |  SELECT q_id, n_id FROM s0
           |  UNION ALL SELECT s0.q_id, knnu.n_id FROM s0
           |    JOIN knnu ON knnu.q_id = s0.n_id) t
           |  WHERE n_id <> q_id),
           |s1 AS (SELECT q_id, n_id, rn FROM (
           |  SELECT c.q_id, c.n_id,
           |    row_number() OVER (PARTITION BY c.q_id
           |      ORDER BY ${cosSql("qq.q_vec", "e.v")} DESC, c.n_id ASC) AS rn
           |  FROM c1 c JOIN qs qq ON qq.q_id = c.q_id JOIN e ON e.id = c.n_id) t
           |  WHERE rn <= 16),
           |c2 AS (SELECT DISTINCT q_id, n_id FROM (
           |  SELECT q_id, n_id FROM s1
           |  UNION ALL SELECT s1.q_id, knnu.n_id FROM s1
           |    JOIN knnu ON knnu.q_id = s1.n_id) t
           |  WHERE n_id <> q_id),
           |s2 AS (SELECT q_id, n_id, rn FROM (
           |  SELECT c.q_id, c.n_id,
           |    row_number() OVER (PARTITION BY c.q_id
           |      ORDER BY ${cosSql("qq.q_vec", "e.v")} DESC, c.n_id ASC) AS rn
           |  FROM c2 c JOIN qs qq ON qq.q_id = c.q_id JOIN e ON e.id = c.n_id) t
           |  WHERE rn <= 16),
           |c3 AS (SELECT DISTINCT q_id, n_id FROM (
           |  SELECT q_id, n_id FROM s2
           |  UNION ALL SELECT s2.q_id, knnu.n_id FROM s2
           |    JOIN knnu ON knnu.q_id = s2.n_id) t
           |  WHERE n_id <> q_id),
           |s3 AS (SELECT q_id, n_id, rn FROM (
           |  SELECT c.q_id, c.n_id,
           |    row_number() OVER (PARTITION BY c.q_id
           |      ORDER BY ${cosSql("qq.q_vec", "e.v")} DESC, c.n_id ASC) AS rn
           |  FROM c3 c JOIN qs qq ON qq.q_id = c.q_id JOIN e ON e.id = c.n_id) t
           |  WHERE rn <= 16),
           |h0 AS (SELECT cast(0 as bigint) AS rounds, cast(5 as bigint) AS k,
           |    (SELECT count(*) FROM qs) AS n_queries, count(*) AS n_hits,
           |    round(cast(count(*) as double)
           |      / ((SELECT count(*) FROM qs) * 5), 6) AS recall
           |  FROM (SELECT q_id, n_id FROM s0 WHERE rn <= 5) a
           |  JOIN truth USING (q_id, n_id)),
           |h1 AS (SELECT cast(1 as bigint), cast(5 as bigint),
           |    (SELECT count(*) FROM qs), count(*),
           |    round(cast(count(*) as double)
           |      / ((SELECT count(*) FROM qs) * 5), 6)
           |  FROM (SELECT q_id, n_id FROM s1 WHERE rn <= 5) a
           |  JOIN truth USING (q_id, n_id)),
           |h2 AS (SELECT cast(2 as bigint), cast(5 as bigint),
           |    (SELECT count(*) FROM qs), count(*),
           |    round(cast(count(*) as double)
           |      / ((SELECT count(*) FROM qs) * 5), 6)
           |  FROM (SELECT q_id, n_id FROM s2 WHERE rn <= 5) a
           |  JOIN truth USING (q_id, n_id)),
           |h3 AS (SELECT cast(3 as bigint), cast(5 as bigint),
           |    (SELECT count(*) FROM qs), count(*),
           |    round(cast(count(*) as double)
           |      / ((SELECT count(*) FROM qs) * 5), 6)
           |  FROM (SELECT q_id, n_id FROM s3 WHERE rn <= 5) a
           |  JOIN truth USING (q_id, n_id))
           |SELECT * FROM h0 UNION ALL SELECT * FROM h1
           |UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3
           |ORDER BY rounds""".stripMargin,

      // s27: the training chain + assignment + exact integer objective
      "s27_kmeans_train" ->
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |${ivfFpCentSql(nlist = 32, iters = 10, sampleN = 4096)},
           |asg AS (SELECT id AS n_id, qv, c_id, cv FROM (
           |    SELECT e.id, c.c_id, c.cv,
           |      list_transform(e.v, x -> cast(floor(x * 512) as bigint)) AS qv,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c) t WHERE rn = 1)
           |SELECT c_id, count(*) AS n_members,
           |  cast(sum(cast(list_sum(list_transform(range(1, 65),
           |    i -> qv[i] * cast(cv[i] as bigint))) as bigint)) as bigint)
           |    AS dot_sum
           |FROM asg GROUP BY 1 ORDER BY c_id""".stripMargin,

      // t52: s27's training + assignment chain, then per-cell
      // sample-hash-order rank capped at 8; cell sizes ride along
      "t52_cluster_balance" ->
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |${ivfFpCentSql(nlist = 32, iters = 10, sampleN = 4096)},
           |asg AS (SELECT id AS vec_id, c_id FROM (
           |    SELECT e.id, c.c_id,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c) t WHERE rn = 1),
           |r AS (SELECT vec_id, c_id, cast(row_number() OVER (
           |    PARTITION BY c_id
           |    ORDER BY (${Mixture.portableHashSql("vec_id", Mixture.SampleI)}),
           |      vec_id) as bigint) AS rn
           |  FROM asg),
           |sz AS (SELECT c_id, count(*) AS n_members FROM asg GROUP BY 1)
           |SELECT r.vec_id, r.c_id, sz.n_members, r.rn
           |FROM r JOIN sz USING (c_id) WHERE r.rn <= 8
           |ORDER BY c_id, rn""".stripMargin,

      // st49: t52's training + assignment + capped hash-order rank,
      // applied to the id-shifted arriving shard
      "st49_stream_cluster_quota" ->
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |${ivfFpCentSql(nlist = 32, iters = 10, sampleN = 4096)},
           |sh AS (SELECT vec_id + 100000 AS vec_id,
           |    list_transform(embedding, x -> cast(x as double)) AS v
           |  FROM embeddings),
           |asg AS (SELECT vec_id, c_id FROM (
           |    SELECT sh.vec_id, c.c_id,
           |      row_number() OVER (PARTITION BY sh.vec_id
           |        ORDER BY ${cosSql("sh.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM sh, cent c) t WHERE rn = 1),
           |r AS (SELECT c_id, vec_id,
           |    (${Mixture.portableHashSql("vec_id", Mixture.SampleI)}) AS h,
           |    cast(row_number() OVER (PARTITION BY c_id
           |      ORDER BY (${Mixture.portableHashSql("vec_id", Mixture.SampleI)}),
           |      vec_id) as bigint) AS rn
           |  FROM asg)
           |SELECT c_id, vec_id, h, rn FROM r WHERE rn <= 8
           |ORDER BY c_id, rn""".stripMargin,

      // s24: the full fixed-point faiss-IVFPQ replay — coarse training
      // (s23's CTE chain), cosine assignment, ×2^12-quantized
      // residuals, integer per-subspace Lloyd codebook, integer-ADC
      // probe — every stage bit-replayed
      "s24_ivf_pq_trained" -> ivfPqTrainedReplaySql(" WHERE e.id < 5"),

      // s38: the SAME trained replay with the query bound removed —
      // every corpus vector probes its 4 nearest trained lists, ADC
      // top-40 candidates, exact-integer rerank to top-5; the engine's
      // codegen encode/ADC kernels must reproduce it row for row
      "s38_pq_knn_graph" -> pqScaledReplaySql(),

      // s41: ONE shared PQ chain at the superset budget (crn <= 80),
      // two rerank arms read prefix budgets from it, brute-force truth
      // (the sanctioned s01 exact arm), per-arm hit counts + recall
      "s41_pq_graph_recall" -> {
        val d2q = s"""cast(list_sum(list_transform(range(1, 65),
           |      i -> (p.qres[i] - a.qres[i]) * (p.qres[i] - a.qres[i])))
           |      as bigint)""".stripMargin
        def armSel(name: String, tag: String, budget: Int) =
          s"""SELECT '$name' AS arm, (SELECT n FROM nq) AS n_queries,
             |  cast(5 as bigint) AS k, cast($budget as bigint) AS c_budget,
             |  (SELECT n_hits FROM $tag) AS n_hits,
             |  round(cast((SELECT n_hits FROM $tag) as double)
             |    / ((SELECT n FROM nq) * 5), 6) AS recall""".stripMargin
        pqGraphChainSql(
          head = s"""${scaledGraphPreludeSql()}""",
          asgqBody = s"""SELECT a.n_id, a.c_id,
             |    ${pqQresT("a.n_vec", "c.cv")} AS qres
             |  FROM asg a JOIN cent c ON c.c_id = a.c_id""".stripMargin,
          probeqBody = s"""SELECT p.q_id, p.c_id,
             |    ${pqQresT("p.q_vec", "c.cv")} AS qres
             |  FROM probe p JOIN cent c ON c.c_id = p.c_id""".stripMargin,
          candBudget = 80,
          finalSql = Some(s""",rr AS (SELECT c.q_id, c.n_id, c.crn, $d2q AS d2_fp
             |  FROM cand c
             |  JOIN probeq p ON p.q_id = c.q_id AND p.c_id = c.c_id
             |  JOIN asgq a ON a.n_id = c.n_id),
             |knn40 AS (SELECT q_id, n_id FROM (
             |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             |    ORDER BY d2_fp ASC, n_id ASC) AS rn
             |  FROM rr WHERE crn <= 40) t WHERE rn <= 5),
             |knn80 AS (SELECT q_id, n_id FROM (
             |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             |    ORDER BY d2_fp ASC, n_id ASC) AS rn
             |  FROM rr) t WHERE rn <= 5),
             |qmv AS (SELECT greatest(1, (SELECT count(*) FROM e) // 500) AS qm),
             |ex AS (SELECT q_id, n_id FROM (
             |    SELECT q.id AS q_id, n.id AS n_id,
             |      row_number() OVER (PARTITION BY q.id
             |        ORDER BY ${cosSql("q.v", "n.v")} DESC, n.id ASC) AS rn
             |    FROM e q JOIN e n ON n.id <> q.id
             |    WHERE (3 * (q.id % 1000000007) + 8) % 1000000007
             |      % (SELECT qm FROM qmv) = 0) t WHERE rn <= 5),
             |nq AS (SELECT cast(count(*) as bigint) AS n FROM e
             |  WHERE (3 * (id % 1000000007) + 8) % 1000000007
             |    % (SELECT qm FROM qmv) = 0),
             |h40 AS (SELECT cast(count(*) as bigint) AS n_hits
             |  FROM knn40 f JOIN ex ON ex.q_id = f.q_id AND ex.n_id = f.n_id),
             |h80 AS (SELECT cast(count(*) as bigint) AS n_hits
             |  FROM knn80 f JOIN ex ON ex.q_id = f.q_id AND ex.n_id = f.n_id)
             |${armSel("cbudget_40", "h40", 40)}
             |UNION ALL ${armSel("cbudget_80", "h80", 80)}
             |ORDER BY arm""".stripMargin))
      },

      // st53: the frozen corpus-scaled base build (prelude = the s30
      // spelling), its published top-5 thresholds, then the arriving
      // (+100000) shard routed through the SAME frozen tables — both
      // intent kinds replayed: per-arrival top-5 over probed cells'
      // base members, and the base-query upserts admitted by a strict
      // rounded-cosine beat of the stored 5th-best (short/missing row
      // sets always admit)
      "st53_stream_graph_upsert" -> graphUpsertReplaySql(nOwners = None),

      // st61: the SAME replay with every intent labeled by its CELL
      // OWNER (rendezvous of the cell id among 4 workers) and the
      // new_topk rank taken WITHIN the owner — the per-owner partials
      // a cell-sharded serving tier emits; the merger's top-k of the
      // unioned partials equals st53's global list (GraphUpsertSpec
      // pins the fold)
      "st61_sharded_graph_upsert" -> graphUpsertReplaySql(
        nOwners = Some(4)),

      // s49: the intent log APPLIED against the ranked base — arriving
      // ids adopt their new_topk rows, affected base queries re-rank
      // stored ∪ admitted candidates by (rounded cos DESC, id ASC),
      // everyone else keeps stored edges verbatim (exact: admission
      // emitted every candidate that could enter)
      "s49_upsert_compaction" -> upsertApplySql,
      "s50_generation_serving" -> generationServingReplaySql(),
      "s51_generation_masked_serving" ->
        generationServingReplaySql(scoreMask = "id % 10 <> 3"),

      // d26: the BATCH-REBUILD spelling over the frozen base-trained
      // quantizer (training/geometry from id % 10 <> 7, routing over
      // everyone) — hash-green against the engine's INCREMENTAL
      // merge-upsert dataflow proves incremental == rebuild exactly
      "d26_graph_upsert" ->
        s"""${scaledGraphPreludeSql(trainFilter = "id % 10 <> 7")}
           |SELECT q_id, n_id, rn AS rnk, cos_sim FROM (
           |  SELECT p.q_id, a.n_id, round(${cosSql("p.q_vec", "a.n_vec")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY p.q_id
           |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin,

      // st54: the scaled-build replay (s30's knn tail) with both
      // intent arms — drops straight off the notice set, invalidates
      // from the graph ⋈ notices equi-join on the pointed-at id
      "st54_stream_tombstone" ->
        s"""${scaledGraphPreludeSql()},
           |knn AS (SELECT q_id, n_id, rn AS rnk, cos_sim FROM (
           |  SELECT p.q_id, a.n_id, round(${cosSql("p.q_vec", "a.n_vec")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY p.q_id
           |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
           |WHERE rn <= 5),
           |notices AS (SELECT id FROM e WHERE id % 10 = 3)
           |SELECT kind, q_id, n_id, rnk, cos_sim FROM (
           |  SELECT 'drop' AS kind, n.id AS q_id,
           |    cast(NULL as bigint) AS n_id, cast(NULL as bigint) AS rnk,
           |    cast(NULL as double) AS cos_sim FROM notices n
           |  UNION ALL
           |  SELECT 'invalidate', g.q_id, g.n_id, g.rnk, g.cos_sim
           |  FROM knn g JOIN notices n ON g.n_id = n.id) t
           |ORDER BY kind, q_id, coalesce(n_id, -1)""".stripMargin,

      // s42: the BATCH-REBUILD spelling over SURVIVORS under the
      // frozen full-corpus quantizer (training/geometry from everyone,
      // routing over id % 10 <> 3) — hash-green against the engine's
      // INCREMENTAL tombstone dataflow proves delete-incremental ==
      // rebuild exactly
      "s42_graph_tombstone" ->
        s"""${scaledGraphPreludeSql(routeFilter = "id % 10 <> 3")}
           |SELECT q_id, n_id, rn AS rnk, cos_sim FROM (
           |  SELECT p.q_id, a.n_id, round(${cosSql("p.q_vec", "a.n_vec")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY p.q_id
           |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
           |  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin,

      // SemDeDup: s04's deterministic coarse assignment, then pairs
      // confined to each cluster; dup_of = lowest same-cluster id at
      // cos >= 0.95 (null = canonical representative)
      "s19_semantic_dedup" ->
        s"""WITH e AS (SELECT cast(vec_id as bigint) AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |cent AS (SELECT id AS c_id, v AS cv FROM e WHERE id < 32),
           |asg AS (SELECT id AS n_id, c_id, v FROM (
           |    SELECT e.id, e.v, c.c_id, row_number() OVER (PARTITION BY e.id
           |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c) t WHERE rn = 1),
           |dup AS (SELECT x.n_id AS n_id, min(y.n_id) AS dup_of
           |  FROM asg x JOIN asg y ON y.c_id = x.c_id AND y.n_id < x.n_id
           |  WHERE ${cosSql("x.v", "y.v")} >= 0.95 GROUP BY 1)
           |SELECT a.n_id AS vec_id, a.c_id, d.dup_of, d.dup_of IS NULL AS keep
           |FROM asg a LEFT JOIN dup d ON d.n_id = a.n_id
           |ORDER BY vec_id""".stripMargin,

      // semantic decontamination: per corpus vector the argmax eval
      // match (ties to lowest eval id) + the >= 0.40 verdict
      "d14_semantic_decontam" ->
        s"""WITH e AS (SELECT cast(vec_id as bigint) AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |ev AS (SELECT id AS e_id, v AS evec FROM e WHERE id % 97 = 0),
           |c AS (SELECT id, v FROM e WHERE id % 97 <> 0),
           |best AS (SELECT id, e_id, cs FROM (
           |    SELECT c.id, ev.e_id, ${cosSql("c.v", "ev.evec")} AS cs,
           |      row_number() OVER (PARTITION BY c.id
           |        ORDER BY ${cosSql("c.v", "ev.evec")} DESC, ev.e_id ASC) AS rn
           |    FROM c, ev) t WHERE rn = 1)
           |SELECT id AS vec_id, e_id AS eval_id, round(cs, 6) AS cos_sim,
           |  cast(CASE WHEN cs >= 0.40 THEN 1 ELSE 0 END as bigint) AS contaminated
           |FROM best ORDER BY vec_id""".stripMargin,

      // stream = batch for the stateless assign-and-probe: s19's reps,
      // the +100000 shard (+10.0/element for odd ids), min matching rep
      "st14_stream_semantic_dedup" ->
        s"""WITH e AS (SELECT cast(vec_id as bigint) AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |cent AS (SELECT id AS c_id, v AS cv FROM e WHERE id < 32),
           |asg AS (SELECT id AS n_id, c_id, v FROM (
           |    SELECT e.id, e.v, c.c_id, row_number() OVER (PARTITION BY e.id
           |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c) t WHERE rn = 1),
           |dup AS (SELECT x.n_id AS n_id, min(y.n_id) AS dup_of
           |  FROM asg x JOIN asg y ON y.c_id = x.c_id AND y.n_id < x.n_id
           |  WHERE ${cosSql("x.v", "y.v")} >= 0.95 GROUP BY 1),
           |reps AS (SELECT a.n_id AS rep_id, a.c_id, a.v AS rv
           |  FROM asg a LEFT JOIN dup d ON d.n_id = a.n_id WHERE d.dup_of IS NULL),
           |shard AS (SELECT id + 100000 AS id,
           |    CASE WHEN id % 2 = 1 THEN list_transform(v, x -> x + 10.0)
           |      ELSE v END AS sv
           |  FROM e),
           |sasg AS (SELECT id, c_id, sv FROM (
           |    SELECT s.id, c.c_id, s.sv, row_number() OVER (PARTITION BY s.id
           |      ORDER BY ${cosSql("s.sv", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM shard s, cent c) t WHERE rn = 1),
           |m AS (SELECT sa.id, min(r.rep_id) AS dup_of
           |  FROM sasg sa JOIN reps r ON r.c_id = sa.c_id
           |  WHERE ${cosSql("sa.sv", "r.rv")} >= 0.95 GROUP BY 1)
           |SELECT sa.id AS vec_id, sa.c_id, m.dup_of, m.dup_of IS NULL AS is_new
           |FROM sasg sa LEFT JOIN m ON m.id = sa.id ORDER BY vec_id""".stripMargin,

      "s12_pq_topk" -> {
        // subspace-local squared L2 between two 8-element slices, as the
        // same sequential left fold the Spark side runs
        val d2 = (a: String, b: String) =>
          s"""list_reduce(list_transform(range(1, 9),
             |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)""".stripMargin
        val adcSum = (0 until 8).map(j =>
          s"sum(CASE WHEN l.j = $j THEN l.d2 END)").mkString(" + ")
        s"""WITH e AS (SELECT vec_id AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |js AS (SELECT unnest(range(0, 8)) AS j),
           |cb AS (SELECT j, id AS c_id, v[j*8+1 : j*8+8] AS cv FROM e, js WHERE id < 32),
           |sub AS (SELECT id, j, v[j*8+1 : j*8+8] AS sv FROM e, js),
           |enc AS (SELECT id AS n_id, j, c_id AS code FROM (
           |    SELECT s.id, s.j, c.c_id, row_number() OVER (PARTITION BY s.id, s.j
           |      ORDER BY ${d2("s.sv", "c.cv")} ASC, c.c_id ASC) AS rn
           |    FROM sub s JOIN cb c ON s.j = c.j) t WHERE rn = 1),
           |lut AS (SELECT s.id AS q_id, c.j, c.c_id, ${d2("s.sv", "c.cv")} AS d2
           |  FROM sub s JOIN cb c ON s.j = c.j WHERE s.id < 5),
           |adc AS (SELECT l.q_id, e.n_id, $adcSum AS adc
           |  FROM enc e JOIN lut l ON l.j = e.j AND l.c_id = e.code
           |  WHERE e.n_id <> l.q_id GROUP BY 1, 2)
           |SELECT q_id, n_id, rn AS rnk, round(adc, 6) AS adc_d2 FROM (
           |  SELECT q_id, n_id, adc, row_number() OVER (PARTITION BY q_id
           |    ORDER BY adc ASC, n_id ASC) AS rn FROM adc) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin
      },

      // composition of s04's coarse assignment/probe and s12's enc/lut
      // ADC: a neighbor scores iff its assigned list is probed by the
      // query; distances are s12's (raw-vector codebook, no residual)
      "s15_ivf_pq_topk" -> ivfPqOracleSql(candFilter = ""),

      // s15's plan with a metadata predicate restricting the CANDIDATE
      // set (the filtered-ANN production shape: one shared index,
      // per-query filters) — only the candidate gate differs
      "s20_filtered_ann" -> ivfPqOracleSql(
        candFilter = " AND en.n_id IN (SELECT vec_id FROM embeddings WHERE label <= 2)"),

      // sign-bit signatures (bit d set iff component d > 0), Hamming
      // top-40 candidates, exact-cosine rerank. Bit 63 is added as the
      // min-long literal because DuckDB range-checks (1 << 63).
      "s21_binary_rerank" ->
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |s AS (SELECT id, v,
           |  cast(list_sum(list_transform(range(63), d ->
           |    CASE WHEN v[d+1] > 0 THEN (1::BIGINT << d) ELSE 0::BIGINT END)) as bigint)
           |  + (CASE WHEN v[64] > 0 THEN (-9223372036854775807::BIGINT - 1::BIGINT)
           |     ELSE 0::BIGINT END) AS sig FROM e),
           |cand AS (SELECT * FROM (
           |  SELECT q.id AS q_id, q.v AS qv, n.id AS n_id, n.v AS nv,
           |    cast(bit_count(xor(q.sig, n.sig)) as bigint) AS hamming,
           |    row_number() OVER (PARTITION BY q.id
           |      ORDER BY bit_count(xor(q.sig, n.sig)) ASC, n.id ASC) AS crn
           |  FROM s q JOIN s n ON n.id <> q.id WHERE q.id < 5) t
           |  WHERE crn <= 40)
           |SELECT q_id, n_id, rn AS rnk, hamming, cos_sim FROM (
           |  SELECT q_id, n_id, hamming, round(${cosSql("qv", "nv")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY ${cosSql("qv", "nv")} DESC, n_id ASC) AS rn
           |  FROM cand) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin,

      // s11's code spelling per vector, exact integer dot product as
      // the candidate order, s21's rerank frame
      "s25_sq8_rerank" ->
        s"""WITH vv AS (SELECT vec_id AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v
           |  FROM embeddings),
           |c AS (SELECT id, v,
           |    list_transform(v, x -> cast(floor(x / scale + 0.5) as bigint))
           |      AS codes
           |  FROM (SELECT id, v,
           |      list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0
           |        AS scale FROM vv)),
           |cand AS (SELECT * FROM (
           |  SELECT q.id AS q_id, q.v AS qv, n.id AS n_id, n.v AS nv,
           |    cast(list_sum(list_transform(range(1, len(q.codes) + 1),
           |      i -> q.codes[i] * n.codes[i])) as bigint) AS idot,
           |    row_number() OVER (PARTITION BY q.id
           |      ORDER BY cast(list_sum(list_transform(range(1, len(q.codes) + 1),
           |        i -> q.codes[i] * n.codes[i])) as bigint) DESC, n.id ASC) AS crn
           |  FROM c q JOIN c n ON n.id <> q.id WHERE q.id < 5) t
           |  WHERE crn <= 40)
           |SELECT q_id, n_id, rn AS rnk, idot, cos_sim FROM (
           |  SELECT q_id, n_id, idot, round(${cosSql("qv", "nv")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY ${cosSql("qv", "nv")} DESC, n_id ASC) AS rn
           |  FROM cand) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin,

      // s25's candidate replay, but candidates rank by the DEQUANTIZED
      // integer dot (idot x the corpus vector's own scale — per-vector
      // scales don't cancel under MIPS the way they do under cosine);
      // rerank by the raw inner-product fold
      "s26_mips_topk" ->
        s"""WITH vv AS (SELECT vec_id AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v
           |  FROM embeddings),
           |c AS (SELECT id, v, scale,
           |    list_transform(v, x -> cast(floor(x / scale + 0.5) as bigint))
           |      AS codes
           |  FROM (SELECT id, v,
           |      list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0
           |        AS scale FROM vv)),
           |cand AS (SELECT * FROM (
           |  SELECT q.id AS q_id, q.v AS qv, n.id AS n_id, n.v AS nv,
           |    cast(list_sum(list_transform(range(1, len(q.codes) + 1),
           |      i -> q.codes[i] * n.codes[i])) as bigint) AS idot,
           |    row_number() OVER (PARTITION BY q.id
           |      ORDER BY cast(cast(list_sum(list_transform(
           |          range(1, len(q.codes) + 1),
           |          i -> q.codes[i] * n.codes[i])) as bigint) as double)
           |        * n.scale DESC, n.id ASC) AS crn
           |  FROM c q JOIN c n ON n.id <> q.id WHERE q.id < 5) t
           |  WHERE crn <= 40)
           |SELECT q_id, n_id, rn AS rnk, idot, ip FROM (
           |  SELECT q_id, n_id, idot,
           |    round(list_reduce(list_transform(range(1,65), i -> qv[i]*nv[i]),
           |      (x,y) -> x+y), 6) AS ip,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY list_reduce(list_transform(range(1,65), i -> qv[i]*nv[i]),
           |        (x,y) -> x+y) DESC, n_id ASC) AS rn
           |  FROM cand) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin,

      // s29: the s04 probe replay at nprobe 2/4/8 + the s01 exact
      // top-10; recall = the integer hit-count join per arm
      "s29_ivf_recall_curve" -> {
        val arms = Seq(2, 4, 8).map { np =>
          s"""top$np AS (SELECT q_id, n_id FROM (
             |  SELECT p.q_id, a.n_id,
             |    row_number() OVER (PARTITION BY p.q_id
             |      ORDER BY ${cosSql("p.q_vec", "a.n_vec")} DESC, a.n_id ASC) AS rn
             |  FROM (SELECT q_id, q_vec, c_id FROM probes WHERE prn <= $np) p
             |  JOIN asg a ON a.c_id = p.c_id AND a.n_id <> p.q_id) t
             |  WHERE rn <= 10),
             |hit$np AS (SELECT cast($np as bigint) AS nprobe,
             |    cast(10 as bigint) AS k, (SELECT count(*) FROM q) AS n_queries,
             |    count(*) AS n_hits,
             |    round(cast(count(*) as double)
             |      / ((SELECT count(*) FROM q) * 10), 6) AS recall
             |  FROM top$np t JOIN ex ON ex.q_id = t.q_id AND ex.n_id = t.n_id)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |c AS (SELECT id AS c_id, v AS cv FROM e WHERE id < 32),
           |q AS (SELECT id AS q_id, v AS q_vec FROM e WHERE id < 5),
           |asg AS (SELECT id AS n_id, v AS n_vec, c_id FROM (
           |    SELECT e.id, e.v, c.c_id,
           |      row_number() OVER (PARTITION BY e.id
           |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, c) t WHERE rn = 1),
           |probes AS (SELECT q_id, q_vec, c_id, prn FROM (
           |    SELECT q.q_id, q.q_vec, c.c_id,
           |      row_number() OVER (PARTITION BY q.q_id
           |        ORDER BY ${cosSql("q.q_vec", "c.cv")} DESC, c.c_id ASC) AS prn
           |    FROM q, c) t WHERE prn <= 8),
           |ex AS (SELECT q_id, n_id FROM (
           |    SELECT q.q_id, n.id AS n_id,
           |      row_number() OVER (PARTITION BY q.q_id
           |        ORDER BY ${cosSql("q.q_vec", "n.v")} DESC, n.id ASC) AS rn
           |    FROM q JOIN e n ON n.id <> q.q_id) t WHERE rn <= 10),
           |$arms
           |SELECT * FROM hit2 UNION ALL SELECT * FROM hit4
           |UNION ALL SELECT * FROM hit8 ORDER BY nprobe""".stripMargin
      },

      // s28: full-vector cosine candidates (s01's fold), then the 4x4
      // sub-vector MaxSim — every sub-cosine the same sequential fold
      // over its 16-component slice, summed left-associatively
      "s28_maxsim_rerank" -> {
        val subCos = (a: String, b: String, i: Int, j: Int) => {
          val (oa, ob) = (i * 16, j * 16)
          s"""(list_reduce(list_transform(range(1,17), k -> $a[$oa+k]*$b[$ob+k]), (x,y)->x+y) /
             | (sqrt(list_reduce(list_transform(range(1,17), k -> $a[$oa+k]*$a[$oa+k]),
             |    (x,y)->x+y)) *
             |  sqrt(list_reduce(list_transform(range(1,17), k -> $b[$ob+k]*$b[$ob+k]),
             |    (x,y)->x+y))))""".stripMargin
        }
        val maxsim = (0 until 4).map { i =>
          "greatest(" + (0 until 4).map(j =>
            subCos("qv", "nv", i, j)).mkString(",\n") + ")"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |cand AS (SELECT * FROM (
           |  SELECT q.id AS q_id, q.v AS qv, n.id AS n_id, n.v AS nv,
           |    ${cosSql("q.v", "n.v")} AS cos,
           |    row_number() OVER (PARTITION BY q.id
           |      ORDER BY ${cosSql("q.v", "n.v")} DESC, n.id ASC) AS crn
           |  FROM e q JOIN e n ON n.id <> q.id WHERE q.id < 5) t
           |  WHERE crn <= 40)
           |SELECT q_id, n_id, rn AS rnk, round(ms, 6) AS maxsim,
           |  round(cos, 6) AS cos_sim FROM (
           |  SELECT q_id, n_id, cos, ($maxsim) AS ms,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY ($maxsim) DESC, n_id ASC) AS rn
           |  FROM cand) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin
      },

      // prefix-16 coarse cosine (same sequential fold over the first 16
      // components), top-40 candidates, exact full-dim rerank
      // s33: JL ±1 projection replay — integer-quantized inputs
      // (floor(x·2^20)), sign(i,j) from the Knuth mix, exact-integer
      // projected L2 coarse order, exact cosine rerank
      "s33_jl_topk" -> {
        val d2 = (a: String, b: String) =>
          s"""cast(list_sum(list_transform(range(1, 17),
             |      j -> ($a[j] - $b[j]) * ($a[j] - $b[j]))) as bigint)""".stripMargin
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |jl AS (SELECT id, v, list_transform(range(0, 16),
           |    j -> cast(list_sum(list_transform(range(0, 64),
           |      i -> cast(floor(v[i+1] * 1048576) as bigint) *
           |        (CASE WHEN ((xor((i*16 + j + 1) * 2654435761 % 2147483648,
           |             ((i*16 + j + 1) * 2654435761 % 2147483648) >> 13)
           |           * 1274126177 % 2147483648) >> 7) % 2 = 0
           |         THEN 1 ELSE -1 END)))
           |      as bigint)) AS y FROM e),
           |cand AS (SELECT * FROM (
           |  SELECT q.id AS q_id, q.v AS qv, n.id AS n_id, n.v AS nv,
           |    ${d2("q.y", "n.y")} AS pre_d2,
           |    row_number() OVER (PARTITION BY q.id
           |      ORDER BY ${d2("q.y", "n.y")} ASC, n.id ASC) AS crn
           |  FROM jl q JOIN jl n ON n.id <> q.id WHERE q.id < 5) t
           |  WHERE crn <= 40)
           |SELECT q_id, n_id, rn AS rnk, pre_d2, cos_sim FROM (
           |  SELECT q_id, n_id, pre_d2, round(${cosSql("qv", "nv")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY ${cosSql("qv", "nv")} DESC, n_id ASC) AS rn
           |  FROM cand) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin
      },

      "s22_matryoshka" -> {
        val preCos = (a: String, b: String) =>
          s"""(list_reduce(list_transform(range(1,17), i -> $a[i]*$b[i]), (x,y)->x+y) /
             | (sqrt(list_reduce(list_transform(range(1,17), i -> $a[i]*$a[i]), (x,y)->x+y)) *
             |  sqrt(list_reduce(list_transform(range(1,17), i -> $b[i]*$b[i]),
             |    (x,y)->x+y))))""".stripMargin
        s"""WITH e AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |cand AS (SELECT * FROM (
           |  SELECT q.id AS q_id, q.v AS qv, n.id AS n_id, n.v AS nv,
           |    ${preCos("q.v", "n.v")} AS pre_cos,
           |    row_number() OVER (PARTITION BY q.id
           |      ORDER BY ${preCos("q.v", "n.v")} DESC, n.id ASC) AS crn
           |  FROM e q JOIN e n ON n.id <> q.id WHERE q.id < 5) t
           |  WHERE crn <= 40)
           |SELECT q_id, n_id, rn AS rnk, round(pre_cos, 6) AS pre_cos, cos_sim FROM (
           |  SELECT q_id, n_id, pre_cos, round(${cosSql("qv", "nv")}, 6) AS cos_sim,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY ${cosSql("qv", "nv")} DESC, n_id ASC) AS rn
           |  FROM cand) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin
      },

      // lexical ranks from the distinct-token posting join, vector
      // ranks from the exact cosine, RRF = 1/(60+lr) + 1/(60+vr)
      "s18_hybrid_search" ->
        s"""WITH d AS (SELECT doc_id AS id, text FROM documents),
           |e AS (SELECT vec_id AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |c AS (SELECT d.id, d.text, e.v FROM d JOIN e ON e.id = d.id),
           |t AS (SELECT id, unnest(list_distinct(${toksSql("text")})) AS tok FROM c),
           |qt AS (SELECT id AS q_id, tok FROM t WHERE id < 3),
           |sh AS (SELECT qt.q_id, t.id AS n_id, count(*) AS n_shared
           |  FROM qt JOIN t ON t.tok = qt.tok AND t.id <> qt.q_id GROUP BY 1, 2),
           |lex AS (SELECT q_id, n_id, lr FROM (
           |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY n_shared DESC, n_id ASC) AS lr FROM sh) x WHERE lr <= 20),
           |vq AS (SELECT id AS q_id, v AS qv FROM c WHERE id < 3),
           |vs AS (SELECT vq.q_id, c.id AS n_id, row_number() OVER (PARTITION BY vq.q_id
           |    ORDER BY ${cosSql("vq.qv", "c.v")} DESC, c.id ASC) AS vr
           |  FROM vq, c WHERE c.id <> vq.q_id),
           |vec AS (SELECT q_id, n_id, vr FROM vs WHERE vr <= 20),
           |f AS (SELECT coalesce(l.q_id, v.q_id) AS q_id,
           |    coalesce(l.n_id, v.n_id) AS n_id,
           |    round(coalesce(1.0/(l.lr + 60), 0) + coalesce(1.0/(v.vr + 60), 0), 6) AS rrf
           |  FROM lex l FULL OUTER JOIN vec v ON v.q_id = l.q_id AND v.n_id = l.n_id)
           |SELECT q_id, n_id, rn AS rnk, rrf FROM (
           |  SELECT q_id, n_id, rrf, row_number() OVER (PARTITION BY q_id
           |    ORDER BY rrf DESC, n_id ASC) AS rn FROM f) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin,

      // s15's composition with the residual twist: codes/LUTs are over
      // v - centroid(v); the probe prune is the lut join on (c_id)
      "s16_ivf_pq_residual" -> {
        val d2 = (a: String, b: String) =>
          s"""list_reduce(list_transform(range(1, 9),
             |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)""".stripMargin
        val adcSum = (0 until 8).map(j =>
          s"sum(CASE WHEN l.j = $j THEN l.d2 END)").mkString(" + ")
        s"""WITH e AS (SELECT vec_id AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |cent AS (SELECT id AS c_id, v AS cv FROM e WHERE id < 32),
           |asg AS (SELECT id AS n_id, c_id FROM (
           |    SELECT e.id, c.c_id, row_number() OVER (PARTITION BY e.id
           |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c) t WHERE rn = 1),
           |res AS (SELECT a.n_id, a.c_id,
           |    list_transform(range(1, 65), i -> e.v[i] - c.cv[i]) AS r
           |  FROM asg a JOIN e ON e.id = a.n_id JOIN cent c ON c.c_id = a.c_id),
           |js AS (SELECT unnest(range(0, 8)) AS j),
           |cb AS (SELECT j, r0.n_id - 32 AS cw, r0.r[j*8+1 : j*8+8] AS cv
           |  FROM res r0, js WHERE r0.n_id >= 32 AND r0.n_id < 64),
           |sub AS (SELECT n_id, c_id, j, r[j*8+1 : j*8+8] AS sv FROM res, js),
           |enc AS (SELECT n_id, c_id, j, cw AS code FROM (
           |    SELECT s.n_id, s.c_id, s.j, c.cw, row_number() OVER (PARTITION BY s.n_id, s.j
           |      ORDER BY ${d2("s.sv", "c.cv")} ASC, c.cw ASC) AS rn
           |    FROM sub s JOIN cb c ON s.j = c.j) t WHERE rn = 1),
           |probe AS (SELECT q_id, c_id FROM (
           |    SELECT e.id AS q_id, c.c_id, row_number() OVER (PARTITION BY e.id
           |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS rn
           |    FROM e, cent c WHERE e.id < 5) t WHERE rn <= 4),
           |qsub AS (SELECT p.q_id, p.c_id, js.j,
           |    list_transform(range(1, 65), i -> e.v[i] - c.cv[i])[js.j*8+1 : js.j*8+8] AS sv
           |  FROM probe p JOIN e ON e.id = p.q_id JOIN cent c ON c.c_id = p.c_id, js),
           |lut AS (SELECT s.q_id, s.c_id, c.j, c.cw, ${d2("s.sv", "c.cv")} AS d2
           |  FROM qsub s JOIN cb c ON s.j = c.j),
           |adc AS (SELECT l.q_id, en.n_id, $adcSum AS adc
           |  FROM enc en
           |  JOIN lut l ON l.c_id = en.c_id AND l.j = en.j AND l.cw = en.code
           |  WHERE en.n_id <> l.q_id GROUP BY 1, 2)
           |SELECT q_id, n_id, rn AS rnk, round(adc, 6) AS adc_d2 FROM (
           |  SELECT q_id, n_id, adc, row_number() OVER (PARTITION BY q_id
           |    ORDER BY adc ASC, n_id ASC) AS rn FROM adc) t
           |WHERE rn <= 5 ORDER BY q_id, rnk""".stripMargin
      },

      "s03_eps_degree" ->
        """WITH p AS (SELECT event_id AS id, value AS x,
          |  ((epoch_ms(ts) // 1000) - 1704067200) / 3600.0 AS y FROM events),
          |c AS (SELECT id, x, y, cast(floor(x / 2.0) as bigint) AS cx,
          |  cast(floor(y / 2.0) as bigint) AS cy FROM p),
          |l AS (SELECT id, x, y, cx + dx.d AS cx, cy + dy.d AS cy FROM c,
          |  (SELECT unnest([-1, 0, 1]) AS d) dx, (SELECT unnest([-1, 0, 1]) AS d) dy),
          |j AS (SELECT l.id,
          |  (l.x - r.x) * (l.x - r.x) + (l.y - r.y) * (l.y - r.y) AS ds
          |  FROM l JOIN c r ON l.cx = r.cx AND l.cy = r.cy AND l.id <> r.id)
          |SELECT id, count(*) AS n_neighbors FROM j WHERE ds <= 4.0
          |GROUP BY id ORDER BY id""".stripMargin,

      // identical to s03's oracle — the rewrite must not change results
      "s05_eps_join_rewrite" ->
        """WITH p AS (SELECT event_id AS id, value AS x,
          |  ((epoch_ms(ts) // 1000) - 1704067200) / 3600.0 AS y FROM events),
          |c AS (SELECT id, x, y, cast(floor(x / 2.0) as bigint) AS cx,
          |  cast(floor(y / 2.0) as bigint) AS cy FROM p),
          |l AS (SELECT id, x, y, cx + dx.d AS cx, cy + dy.d AS cy FROM c,
          |  (SELECT unnest([-1, 0, 1]) AS d) dx, (SELECT unnest([-1, 0, 1]) AS d) dy),
          |j AS (SELECT l.id,
          |  (l.x - r.x) * (l.x - r.x) + (l.y - r.y) * (l.y - r.y) AS ds
          |  FROM l JOIN c r ON l.cx = r.cx AND l.cy = r.cy AND l.id <> r.id)
          |SELECT id, count(*) AS n_neighbors FROM j WHERE ds <= 4.0
          |GROUP BY id ORDER BY id""".stripMargin,

      "s06_cosine_dbscan" ->
        s"""WITH RECURSIVE e0 AS (SELECT vec_id AS id,
           |  list_transform(embedding, x -> cast(x as double)) AS v
           |  FROM embeddings WHERE vec_id < 1000),
           |nb AS (SELECT a.id AS ia, b.id AS ib FROM e0 a JOIN e0 b
           |  ON a.id <> b.id AND ${cosSql("a.v", "b.v")} >= 0.3),
           |deg AS (SELECT ia AS id, count(*) AS n FROM nb GROUP BY ia),
           |core AS (SELECT id FROM deg WHERE n + 1 >= 5),
           |ce AS (SELECT n.ia AS s, n.ib AS d FROM nb n
           |  JOIN core c1 ON c1.id = n.ia JOIN core c2 ON c2.id = n.ib),
           |reach AS (SELECT id AS src, id AS dst FROM core
           |  UNION SELECT r.src, ce.d FROM reach r JOIN ce ON ce.s = r.dst),
           |lab AS (SELECT src AS id, min(dst) AS rep FROM reach GROUP BY src),
           |bord AS (SELECT n.ia AS id, min(l.rep) AS rep FROM nb n
           |  JOIN lab l ON l.id = n.ib
           |  WHERE n.ia NOT IN (SELECT id FROM core) GROUP BY n.ia)
           |SELECT e0.id AS vec_id, coalesce(l.rep, b.rep, -1) AS cluster_rep,
           |  CASE WHEN l.rep IS NOT NULL THEN 'core'
           |       WHEN b.rep IS NOT NULL THEN 'border'
           |       ELSE 'noise' END AS flag
           |FROM e0 LEFT JOIN lab l ON l.id = e0.id LEFT JOIN bord b ON b.id = e0.id
           |ORDER BY vec_id""".stripMargin,

      "s02_lsh_buckets" ->
        s"""SELECT bucket, count(*) AS n FROM (
           |  SELECT ($s02Projs) AS bucket FROM (
           |    SELECT list_transform(embedding, x -> cast(x as double)) AS v
           |    FROM embeddings) e) t
           |GROUP BY bucket ORDER BY bucket""".stripMargin,

      "s07_lsh_neardup" ->
        s"""WITH u AS (
           |  SELECT cast(vec_id as bigint) AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v
           |  FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 100000,
           |    list_transform(embedding, x -> cast(x as double) * 2)
           |  FROM embeddings),
           |b AS (SELECT id, v, ($s02Projs) AS bucket FROM u)
           |SELECT x.id AS id_a, y.id AS id_b,
           |  round(${cosSql("x.v", "y.v")}, 6) AS cos_sim
           |FROM b x JOIN b y ON x.bucket = y.bucket AND x.id < y.id
           |WHERE ${cosSql("x.v", "y.v")} >= 0.3
           |ORDER BY id_a, id_b""".stripMargin,

      // candidate set = union (dedup) of the 4 per-band bucket joins —
      // the oracle dedups with UNION where the engine uses the
      // first-agreeing-band filter; same pair set either way
      "s09_lsh_banded" ->
        s"""WITH u AS (
           |  SELECT cast(vec_id as bigint) AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v
           |  FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 100000,
           |    list_transform(embedding, x -> cast(x as double) * 2)
           |  FROM embeddings),
           |b AS (SELECT id, v, (${bandProjs(0)}) AS b0, (${bandProjs(1)}) AS b1,
           |    (${bandProjs(2)}) AS b2, (${bandProjs(3)}) AS b3 FROM u),
           |cand AS (
           |  SELECT x.id AS a, y.id AS b FROM b x JOIN b y
           |    ON x.b0 = y.b0 AND x.id < y.id
           |  UNION SELECT x.id, y.id FROM b x JOIN b y
           |    ON x.b1 = y.b1 AND x.id < y.id
           |  UNION SELECT x.id, y.id FROM b x JOIN b y
           |    ON x.b2 = y.b2 AND x.id < y.id
           |  UNION SELECT x.id, y.id FROM b x JOIN b y
           |    ON x.b3 = y.b3 AND x.id < y.id)
           |SELECT c.a AS id_a, c.b AS id_b,
           |  round(${cosSql("p.v", "q.v")}, 6) AS cos_sim
           |FROM cand c JOIN b p ON p.id = c.a JOIN b q ON q.id = c.b
           |WHERE ${cosSql("p.v", "q.v")} >= 0.3
           |ORDER BY id_a, id_b""".stripMargin,

      // s09's banded candidates composed with the recursive-CTE CC.
      // NB: cand is an OR-join, not the UNION chain s09 uses — inside a
      // WITH RECURSIVE clause DuckDB treats a CTE whose body is a
      // top-level multi-branch UNION (distinct) as anchor+recursive-step
      // and duplicates rows (observed exactly 2x on this query), even
      // though no branch references the CTE; the UNION ALL in `u` is
      // unaffected.
      "s10_cosine_dbscan_banded" ->
        s"""WITH RECURSIVE u AS (
           |  SELECT cast(vec_id as bigint) AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v
           |  FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 100000,
           |    list_transform(embedding, x -> cast(x as double) * 2)
           |  FROM embeddings),
           |bb AS (SELECT id, v, (${bandProjs(0)}) AS b0, (${bandProjs(1)}) AS b1,
           |    (${bandProjs(2)}) AS b2, (${bandProjs(3)}) AS b3 FROM u),
           |cand AS (
           |  SELECT x.id AS a, y.id AS b FROM bb x JOIN bb y
           |    ON x.id < y.id AND (x.b0 = y.b0 OR x.b1 = y.b1
           |      OR x.b2 = y.b2 OR x.b3 = y.b3)),
           |pairs AS (SELECT c.a, c.b FROM cand c
           |  JOIN bb p ON p.id = c.a JOIN bb q ON q.id = c.b
           |  WHERE ${cosSql("p.v", "q.v")} >= 0.3),
           |nb AS (SELECT a AS ia, b AS ib FROM pairs
           |  UNION ALL SELECT b AS ia, a AS ib FROM pairs),
           |deg AS (SELECT ia AS id, count(*) AS n FROM nb GROUP BY ia),
           |core AS (SELECT id FROM deg WHERE n + 1 >= 3),
           |ce AS (SELECT n.ia AS s, n.ib AS d FROM nb n
           |  JOIN core c1 ON c1.id = n.ia JOIN core c2 ON c2.id = n.ib),
           |reach AS (SELECT id AS src, id AS dst FROM core
           |  UNION SELECT r.src, ce.d FROM reach r JOIN ce ON ce.s = r.dst),
           |lab AS (SELECT src AS id, min(dst) AS rep FROM reach GROUP BY src),
           |bord AS (SELECT n.ia AS id, min(l.rep) AS rep FROM nb n
           |  JOIN lab l ON l.id = n.ib
           |  WHERE n.ia NOT IN (SELECT id FROM core) GROUP BY n.ia)
           |SELECT u.id AS vec_id, coalesce(l.rep, bo.rep, -1) AS cluster_rep,
           |  CASE WHEN l.rep IS NOT NULL THEN 'core'
           |       WHEN bo.rep IS NOT NULL THEN 'border'
           |       ELSE 'noise' END AS flag
           |FROM u LEFT JOIN lab l ON l.id = u.id LEFT JOIN bord bo ON bo.id = u.id
           |ORDER BY vec_id""".stripMargin,

      // s07's bucket-join graph composed with s06's recursive-CTE CC:
      // the oracle mirrors exactly what the engine does (LSH pairs ->
      // symmetrize -> degree core test -> core-core closure -> border
      // attach), so hash-parity checks the whole 100 TB path.
      "s08_cosine_dbscan_lsh" ->
        s"""WITH RECURSIVE u AS (
           |  SELECT cast(vec_id as bigint) AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v
           |  FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 100000,
           |    list_transform(embedding, x -> cast(x as double) * 2)
           |  FROM embeddings),
           |b AS (SELECT id, v, ($s02Projs) AS bucket FROM u),
           |pairs AS (SELECT x.id AS a, y.id AS b FROM b x JOIN b y
           |  ON x.bucket = y.bucket AND x.id < y.id
           |  WHERE ${cosSql("x.v", "y.v")} >= 0.3),
           |nb AS (SELECT a AS ia, b AS ib FROM pairs
           |  UNION ALL SELECT b AS ia, a AS ib FROM pairs),
           |deg AS (SELECT ia AS id, count(*) AS n FROM nb GROUP BY ia),
           |core AS (SELECT id FROM deg WHERE n + 1 >= 3),
           |ce AS (SELECT n.ia AS s, n.ib AS d FROM nb n
           |  JOIN core c1 ON c1.id = n.ia JOIN core c2 ON c2.id = n.ib),
           |reach AS (SELECT id AS src, id AS dst FROM core
           |  UNION SELECT r.src, ce.d FROM reach r JOIN ce ON ce.s = r.dst),
           |lab AS (SELECT src AS id, min(dst) AS rep FROM reach GROUP BY src),
           |bord AS (SELECT n.ia AS id, min(l.rep) AS rep FROM nb n
           |  JOIN lab l ON l.id = n.ib
           |  WHERE n.ia NOT IN (SELECT id FROM core) GROUP BY n.ia)
           |SELECT u.id AS vec_id, coalesce(l.rep, bo.rep, -1) AS cluster_rep,
           |  CASE WHEN l.rep IS NOT NULL THEN 'core'
           |       WHEN bo.rep IS NOT NULL THEN 'border'
           |       ELSE 'noise' END AS flag
           |FROM u LEFT JOIN lab l ON l.id = u.id LEFT JOIN bord bo ON bo.id = u.id
           |ORDER BY vec_id""".stripMargin,

      "m01_binary_meta" ->
        s"""SELECT doc_id, cast(octet_length(encode(text)) as bigint) AS n_bytes,
           |  cast(ascii(substring(text, 1, 1)) as bigint) AS first_code,
           |  md5(text) AS content_md5
           |FROM documents ORDER BY doc_id""".stripMargin,

      "m02_media_features" ->
        s"""SELECT doc_id, cast(octet_length(encode(text)) as bigint) AS n_bytes,
           |  round(cast(list_reduce(list_transform(string_split(text, ''),
           |      c -> cast(ascii(c) as bigint)), (a,b) -> a+b) as double) /
           |    cast(octet_length(encode(text)) as double), 6) AS mean_byte,
           |  cast(ceil(octet_length(encode(text)) / 16.0) as bigint) AS n_blocks
           |FROM documents ORDER BY doc_id""".stripMargin,

      "m03_frame_sample" ->
        s"""WITH t AS (SELECT doc_id,
           |    list_transform(string_split(text, ''), c -> cast(ascii(c) as bigint)) AS codes
           |  FROM documents),
           |b AS (SELECT doc_id, len(codes) AS n,
           |    cast(ceil(len(codes) / 16.0) as int) AS nb, codes FROM t),
           |f AS (SELECT doc_id, nb,
           |    list_transform(list_filter(range(0, nb), i -> i % 4 = 0), i ->
           |      cast(list_aggregate(codes[i*16+1 : least(n, (i+1)*16)], 'sum') as double)
           |        / (least(n, (i+1)*16) - i*16)) AS fm
           |  FROM b)
           |SELECT doc_id, cast(nb as bigint) AS n_blocks,
           |  cast(len(fm) as bigint) AS n_frames,
           |  array_to_string(list_transform(fm, x ->
           |    cast(round(x * 1000000) as bigint)), ',') AS frame_means_micro,
           |  array_to_string(list_transform(range(0, cast(ceil(len(fm) / 2.0) as int)), j ->
           |    cast(round(list_aggregate(fm[2*j+1 : least(len(fm), 2*j+2)], 'sum')
           |      / (least(len(fm), 2*j+2) - 2*j) * 1000000) as bigint)), ',') AS resized_micro
           |FROM f ORDER BY doc_id""".stripMargin,

      "m04_cdc_chunks" ->
        s"""WITH t AS (SELECT doc_id,
           |    list_transform(string_split(text, ''), c -> cast(ascii(c) as bigint)) AS codes
           |  FROM documents),
           |d AS (SELECT doc_id, codes, len(codes) AS n FROM t),
           |bnd AS (SELECT doc_id, codes, n,
           |    list_filter(range(8, n + 1), i ->
           |      list_reduce(codes[i-7 : i], (a, c) -> (a*31 + c) % $P) % 64 = 0) AS ends
           |  FROM d),
           |be AS (SELECT doc_id, codes,
           |    CASE WHEN len(ends) > 0 AND ends[-1] = n THEN ends
           |         ELSE list_append(ends, n) END AS b
           |  FROM bnd)
           |SELECT doc_id, cast(len(b) as bigint) AS n_chunks,
           |  array_to_string(list_transform(range(1, len(b) + 1), j ->
           |    list_reduce(codes[(CASE WHEN j = 1 THEN 1 ELSE b[j-1] + 1 END) : b[j]],
           |      (a, c) -> (a*31 + c) % $P)), ',') AS chunk_hashes_csv
           |FROM be ORDER BY doc_id""".stripMargin,

      // m04's boundary replay twice: 80%-prefix shard chunks (with
      // lengths) probed against the corpus's distinct chunk hashes
      "st48_stream_chunk_probe" -> {
        val tk = toksSql("text")
        s"""WITH sh AS (SELECT doc_id + 100000 AS doc_id,
           |    array_to_string(($tk)[1:greatest(cast(floor(len($tk) * 0.8) as int), 1)],
           |      ' ') AS text
           |  FROM documents),
           |ct AS (SELECT list_transform(string_split(text, ''),
           |    c -> cast(ascii(c) as bigint)) AS codes FROM documents),
           |cd AS (SELECT codes, len(codes) AS n FROM ct),
           |cbnd AS (SELECT codes, n,
           |    list_filter(range(8, n + 1), i ->
           |      list_reduce(codes[i-7 : i], (a, c) -> (a*31 + c) % $P) % 64 = 0) AS ends
           |  FROM cd),
           |cbe AS (SELECT codes,
           |    CASE WHEN len(ends) > 0 AND ends[-1] = n THEN ends
           |         ELSE list_append(ends, n) END AS b
           |  FROM cbnd),
           |chs AS (SELECT DISTINCT unnest(list_transform(range(1, len(b) + 1), j ->
           |    list_reduce(codes[(CASE WHEN j = 1 THEN 1 ELSE b[j-1] + 1 END) : b[j]],
           |      (a, c) -> (a*31 + c) % $P))) AS ch
           |  FROM cbe),
           |st AS (SELECT cast(doc_id as bigint) AS doc_id,
           |    list_transform(string_split(text, ''), c -> cast(ascii(c) as bigint)) AS codes
           |  FROM sh),
           |sd AS (SELECT doc_id, codes, len(codes) AS n FROM st),
           |sbnd AS (SELECT doc_id, codes, n,
           |    list_filter(range(8, n + 1), i ->
           |      list_reduce(codes[i-7 : i], (a, c) -> (a*31 + c) % $P) % 64 = 0) AS ends
           |  FROM sd),
           |sbe AS (SELECT doc_id, codes,
           |    CASE WHEN len(ends) > 0 AND ends[-1] = n THEN ends
           |         ELSE list_append(ends, n) END AS b
           |  FROM sbnd),
           |sce AS (SELECT doc_id,
           |    list_transform(range(1, len(b) + 1), j ->
           |      list_reduce(codes[(CASE WHEN j = 1 THEN 1 ELSE b[j-1] + 1 END) : b[j]],
           |        (a, c) -> (a*31 + c) % $P)) AS hl,
           |    list_transform(range(1, len(b) + 1), j ->
           |      b[j] - (CASE WHEN j = 1 THEN 0 ELSE b[j-1] END)) AS ll
           |  FROM sbe),
           |scf AS (SELECT doc_id, unnest(hl) AS ch, unnest(ll) AS clen FROM sce),
           |f AS (SELECT doc_id, clen,
           |    CASE WHEN ch IN (SELECT ch FROM chs) THEN 1 ELSE 0 END AS hit
           |  FROM scf)
           |SELECT doc_id, count(*) AS n_chunks,
           |  cast(sum(clen) as bigint) AS total_bytes,
           |  cast(sum(hit) as bigint) AS n_dup_chunks,
           |  cast(sum(CASE WHEN hit = 1 THEN clen ELSE 0 END) as bigint) AS dup_bytes,
           |  round(CASE WHEN sum(clen) > 0
           |    THEN cast(sum(CASE WHEN hit = 1 THEN clen ELSE 0 END) as double)
           |      / sum(clen) END, 6) AS dup_frac
           |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },

      // m04's boundary replay over the mutated corpus with per-chunk
      // lengths (zipped unnests), distinct-doc df >= 2, byte charging
      // m15: half-embedding tower cosine in sequential-fold double
      // arithmetic, 1e6 fixed-point corpus-mean bar, cross-multiplied
      "m15_clip_filter" ->
        s"""WITH e AS (SELECT vec_id, cast(label as bigint) AS label,
           |    list_transform(embedding, x -> cast(x as double)) AS v
           |  FROM embeddings),
           |sc AS (SELECT vec_id, label,
           |    round(cs, 6) AS clip_score,
           |    cast(round(cs * 1000000) as bigint) AS cos_fp
           |  FROM (SELECT vec_id, label,
           |      cast(list_sum(list_transform(range(1, 33),
           |          i -> v[i] * v[i + 32])) as double)
           |      / (sqrt(cast(list_sum(list_transform(range(1, 33),
           |          i -> v[i] * v[i])) as double))
           |        * sqrt(cast(list_sum(list_transform(range(1, 33),
           |          i -> v[i + 32] * v[i + 32])) as double))) AS cs
           |    FROM e)),
           |tot AS (SELECT cast(sum(cos_fp) as bigint) AS sum_fp,
           |    cast(count(*) as bigint) AS n_pairs FROM sc)
           |SELECT sc.vec_id, sc.label, sc.clip_score, sc.cos_fp,
           |  tot.n_pairs, tot.sum_fp,
           |  (sc.cos_fp * tot.n_pairs >= tot.sum_fp) AS keep
           |FROM sc, tot ORDER BY vec_id""".stripMargin,

      "m14_chunk_dedup_stats" ->
        s"""WITH u AS ($mutCorpusSql),
           |t AS (SELECT cast(doc_id as bigint) AS doc_id,
           |    list_transform(string_split(text, ''), c -> cast(ascii(c) as bigint)) AS codes
           |  FROM u),
           |d AS (SELECT doc_id, codes, len(codes) AS n FROM t),
           |bnd AS (SELECT doc_id, codes, n,
           |    list_filter(range(8, n + 1), i ->
           |      list_reduce(codes[i-7 : i], (a, c) -> (a*31 + c) % $P) % 64 = 0) AS ends
           |  FROM d),
           |be AS (SELECT doc_id, codes,
           |    CASE WHEN len(ends) > 0 AND ends[-1] = n THEN ends
           |         ELSE list_append(ends, n) END AS b
           |  FROM bnd),
           |ce AS (SELECT doc_id,
           |    list_transform(range(1, len(b) + 1), j ->
           |      list_reduce(codes[(CASE WHEN j = 1 THEN 1 ELSE b[j-1] + 1 END) : b[j]],
           |        (a, c) -> (a*31 + c) % $P)) AS hl,
           |    list_transform(range(1, len(b) + 1), j ->
           |      b[j] - (CASE WHEN j = 1 THEN 0 ELSE b[j-1] END)) AS ll
           |  FROM be),
           |cf AS (SELECT doc_id, unnest(hl) AS ch, unnest(ll) AS clen FROM ce),
           |du AS (SELECT ch FROM cf GROUP BY ch HAVING count(DISTINCT doc_id) >= 2),
           |ag AS (SELECT doc_id, count(*) AS n_chunks,
           |    cast(sum(clen) as bigint) AS total_bytes,
           |    cast(sum(CASE WHEN ch IN (SELECT ch FROM du) THEN 1 ELSE 0 END)
           |      as bigint) AS n_dup_chunks,
           |    cast(sum(CASE WHEN ch IN (SELECT ch FROM du) THEN clen ELSE 0 END)
           |      as bigint) AS dup_bytes
           |  FROM cf GROUP BY doc_id)
           |SELECT doc_id, n_chunks, total_bytes, n_dup_chunks, dup_bytes,
           |  round(CASE WHEN total_bytes > 0
           |    THEN cast(dup_bytes as double) / total_bytes END, 6) AS dup_frac
           |FROM ag ORDER BY doc_id""".stripMargin,

      // block energy over ascii codes (char codes == payload bytes,
      // the m02/m03 convention); integer threshold compare, run count
      // via run-start indicators, longest run via a state-encoded fold
      // (state = cur*1e6 + best — nb is far below 1e6)
      // m16: both tracks' block-energy series from the codes list (the
      // planted B track = an (doc_id%4)-block shift), all 8 lag scores
      // over the shared window, argmax via first-max list_position
      "m16_av_sync" ->
        """WITH t AS (SELECT doc_id, list_transform(string_split(text, ''),
          |    c -> cast(ascii(c) as bigint)) AS codes FROM documents
          |  WHERE length(text) >= 192),
          |p AS (SELECT doc_id, codes, cast(doc_id % 4 as bigint) AS lag,
          |    len(codes) // 16 AS nba FROM t),
          |s AS (SELECT doc_id, lag, nba,
          |    list_transform(range(0, nba), i ->
          |      cast(list_aggregate(codes[i*16+1 : (i+1)*16], 'sum') as bigint))
          |      AS ea,
          |    list_transform(range(0, (len(codes) - lag*16) // 16), i ->
          |      cast(list_aggregate(codes[lag*16 + i*16 + 1 : lag*16 + (i+1)*16],
          |        'sum') as bigint)) AS eb
          |  FROM p WHERE nba >= 12),
          |sc AS (SELECT doc_id, lag, nba,
          |    list_transform(range(0, 8), c ->
          |      (nba - 8) * cast(list_sum(list_transform(range(1, nba - 8 + 1),
          |          i -> ea[i + c] * eb[i])) as bigint)
          |      - cast(list_sum(list_transform(range(1, nba - 8 + 1),
          |          i -> ea[i + c])) as bigint)
          |        * cast(list_sum(list_transform(range(1, nba - 8 + 1),
          |          i -> eb[i])) as bigint)) AS scores
          |  FROM s)
          |SELECT doc_id, cast(nba as bigint) AS n_blocks,
          |  lag AS planted_lag,
          |  cast(list_position(scores, list_aggregate(scores, 'max')) - 1
          |    as bigint) AS best_lag,
          |  cast(list_aggregate(scores, 'max') as bigint) AS best_score,
          |  (list_position(scores, list_aggregate(scores, 'max')) - 1) = lag
          |    AS synced
          |FROM sc ORDER BY doc_id""".stripMargin,

      "m08_vad_segments" ->
        """WITH t AS (SELECT doc_id, list_transform(string_split(text, ''),
          |    c -> cast(ascii(c) as bigint)) AS codes FROM documents),
          |b AS (SELECT doc_id, len(codes) AS n,
          |    cast(ceil(len(codes) / 16.0) as int) AS nb, codes FROM t),
          |a AS (SELECT doc_id, nb, list_transform(range(0, nb), i ->
          |    CASE WHEN list_aggregate(codes[i*16+1 : least(n, (i+1)*16)], 'sum')
          |      >= 95 * (least(n, (i+1)*16) - i*16)
          |    THEN cast(1 as bigint) ELSE cast(0 as bigint) END) AS act
          |  FROM b),
          |s AS (SELECT doc_id, nb,
          |    coalesce(cast(list_sum(act) as bigint), 0) AS n_active,
          |    coalesce(cast(list_sum(list_transform(range(1, len(act) + 1), i ->
          |      CASE WHEN act[i] = 1 AND (i = 1 OR act[i-1] = 0)
          |      THEN 1 ELSE 0 END)) as bigint), 0) AS n_segments,
          |    list_reduce(list_prepend(cast(0 as bigint), act), (st, x) ->
          |      CASE WHEN x = 1
          |      THEN (st // 1000000 + 1) * 1000000 +
          |        greatest(st % 1000000, st // 1000000 + 1)
          |      ELSE st % 1000000 END) % 1000000 AS longest_run
          |  FROM a)
          |SELECT doc_id, cast(nb as bigint) AS n_blocks, n_active, n_segments,
          |  cast(longest_run as bigint) AS longest_run,
          |  round(CASE WHEN nb > 0
          |    THEN cast(n_active as double) / nb ELSE 0.0 END, 6) AS active_frac
          |FROM s ORDER BY doc_id""".stripMargin,

      // st43: the maintained view must equal the from-scratch v2
      // recompute — the oracle IS the recompute the stream avoids
      "st43_stream_ivm" ->
        """WITH v2 AS (SELECT doc_id, source,
          |    length(text) + CASE WHEN doc_id % 7 = 0 THEN 3 ELSE 0 END AS len
          |  FROM documents WHERE doc_id % 13 <> 0
          |  UNION ALL SELECT doc_id + 200000, source, length(text) + 4
          |  FROM documents WHERE doc_id % 11 = 0)
          |SELECT source, count(*) AS n_docs, cast(sum(len) as bigint) AS sum_len
          |FROM v2 GROUP BY 1 HAVING count(*) > 0 ORDER BY source""".stripMargin,

      // d20: delta-maintained per-source stats vs the v2 recompute —
      // signed deltas from the change feed, stored-v1 + delta = full
      "d20_incremental_stats" ->
        """WITH v1 AS (SELECT doc_id, source, length(text) AS len
          |  FROM documents),
          |v2 AS (SELECT doc_id, source,
          |    length(text) + CASE WHEN doc_id % 7 = 0 THEN 3 ELSE 0 END AS len
          |  FROM documents WHERE doc_id % 13 <> 0
          |  UNION ALL SELECT doc_id + 200000, source, length(text) + 4
          |  FROM documents WHERE doc_id % 11 = 0),
          |s1 AS (SELECT source, count(*) AS n1, cast(sum(len) as bigint) AS l1
          |  FROM v1 GROUP BY 1),
          |d AS (SELECT coalesce(a.source, b.source) AS source,
          |    sum(CASE WHEN a.doc_id IS NULL THEN 1
          |      WHEN b.doc_id IS NULL THEN -1 ELSE 0 END) AS dn,
          |    cast(sum(coalesce(b.len, 0) - coalesce(a.len, 0)) as bigint) AS dl
          |  FROM v1 a FULL JOIN v2 b USING (doc_id)
          |  WHERE a.len IS NULL OR b.len IS NULL OR a.len <> b.len
          |  GROUP BY 1),
          |i AS (SELECT coalesce(s1.source, d.source) AS source,
          |    cast(coalesce(n1, 0) + coalesce(dn, 0) as bigint) AS n_docs_incr,
          |    cast(coalesce(l1, 0) + coalesce(dl, 0) as bigint) AS sum_len_incr
          |  FROM s1 FULL JOIN d USING (source)),
          |f AS (SELECT source, count(*) AS n_docs_full,
          |    cast(sum(len) as bigint) AS sum_len_full
          |  FROM v2 GROUP BY 1)
          |SELECT coalesce(i.source, f.source) AS source,
          |  n_docs_incr, sum_len_incr, n_docs_full, sum_len_full,
          |  n_docs_incr = n_docs_full AND sum_len_incr = sum_len_full
          |    AS consistent
          |FROM i FULL JOIN f USING (source)
          |ORDER BY source""".stripMargin,

      "d18_snapshot_diff" ->
        """WITH v1 AS (SELECT doc_id, md5(text) AS fp1 FROM documents),
          |v2 AS (SELECT doc_id,
          |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END)
          |      AS fp2
          |  FROM documents WHERE doc_id % 13 <> 0
          |  UNION ALL SELECT doc_id + 200000, md5(text || ' new')
          |  FROM documents WHERE doc_id % 11 = 0)
          |SELECT CASE WHEN fp1 IS NULL THEN 'added'
          |    WHEN fp2 IS NULL THEN 'removed'
          |    WHEN fp1 = fp2 THEN 'unchanged'
          |    ELSE 'modified' END AS verdict, count(*) AS n
          |FROM v1 FULL JOIN v2 USING (doc_id)
          |GROUP BY 1 ORDER BY verdict""".stripMargin,

      // d23: the same 3-version change log, fanned to the versions each
      // row is visible in, latest op per (version, doc) joined back on
      // its unique (doc_id, ver) key, deletes dropped at readout
      "d23_time_travel" ->
        """WITH base AS (SELECT doc_id, cast(length(text) as bigint) AS len
          |  FROM documents),
          |log AS (
          |  SELECT cast(1 as bigint) AS ver, doc_id, 'upsert' AS op, len
          |  FROM base
          |  UNION ALL SELECT 2, doc_id, 'delete', 0 FROM base
          |  WHERE doc_id % 13 = 0
          |  UNION ALL SELECT 2, doc_id, 'upsert', len + 3 FROM base
          |  WHERE doc_id % 13 <> 0 AND doc_id % 7 = 0
          |  UNION ALL SELECT 2, doc_id + 200000, 'upsert', len + 4 FROM base
          |  WHERE doc_id % 11 = 0
          |  UNION ALL SELECT 3, doc_id, 'upsert', len + 10 FROM base
          |  WHERE doc_id % 13 <> 0 AND doc_id % 5 = 0
          |  UNION ALL SELECT 3, doc_id + 200000, 'delete', 0 FROM base
          |  WHERE doc_id % 22 = 0),
          |f AS (SELECT unnest(generate_series(ver, 3)) AS as_of_version,
          |    doc_id, ver FROM log),
          |mx AS (SELECT as_of_version, doc_id, max(ver) AS mver
          |  FROM f GROUP BY 1, 2),
          |cur AS (SELECT m.as_of_version, l.op, l.len
          |  FROM mx m JOIN log l ON l.doc_id = m.doc_id AND l.ver = m.mver)
          |SELECT as_of_version,
          |  cast(sum(CASE WHEN op = 'upsert' THEN 1 ELSE 0 END) as bigint)
          |    AS n_live,
          |  cast(sum(CASE WHEN op = 'upsert' THEN len ELSE 0 END) as bigint)
          |    AS sum_len,
          |  cast(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) as bigint)
          |    AS n_deleted
          |FROM cur GROUP BY 1 ORDER BY as_of_version""".stripMargin,

      // t53: unigram marginals from the (source, token) aggregate, all
      // four logs in the shared 16.16 fixed point, exact bigint
      // numerator, one double division at readout
      "t53_source_kl" ->
        s"""WITH tok AS (SELECT source, unnest(${toksSql("text")}) AS tok
           |  FROM documents),
           |st AS (SELECT source, tok, cast(count(*) as bigint) AS c_st
           |  FROM tok GROUP BY 1, 2),
           |ct AS (SELECT tok, cast(sum(c_st) as bigint) AS c_t
           |  FROM st GROUP BY 1),
           |ns AS (SELECT source, cast(sum(c_st) as bigint) AS n_s
           |  FROM st GROUP BY 1),
           |tt AS (SELECT cast(sum(c_st) as bigint) AS n_tot FROM st),
           |term AS (SELECT st.source, st.c_st, ns.n_s,
           |    (${Mixture.log2FpSql("c_st")} + ${Mixture.log2FpSql("n_tot")}
           |     - ${Mixture.log2FpSql("n_s")} - ${Mixture.log2FpSql("c_t")})
           |      AS lr
           |  FROM st JOIN ct USING (tok) JOIN ns USING (source) CROSS JOIN tt)
           |SELECT source, max(n_s) AS n_tokens,
           |  cast(count(*) as bigint) AS vocab,
           |  round(cast(sum(c_st * lr) as double)
           |    / (cast(max(n_s) as double) * 65536), 6) AS kl_bits
           |FROM term GROUP BY 1 ORDER BY source""".stripMargin,

      // per-doc share of distinct shingles with corpus df >= 2
      "t43_dup_ngram_fraction" ->
        s"""WITH ${shingleSql("SELECT doc_id, text FROM documents")},
           |df AS (SELECT sh.sh, count(*) AS df FROM sh GROUP BY 1)
           |SELECT s.id AS doc_id, count(*) AS n_sh,
           |  cast(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) as bigint)
           |    AS n_dup,
           |  round(cast(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)
           |    as double) / count(*), 6) AS dup_frac
           |FROM sh s JOIN df ON df.sh = s.sh
           |GROUP BY 1 ORDER BY doc_id""".stripMargin,

      // Gopher repetition rules: top-bigram char fraction + exact
      // duplicate-5-gram position coverage, integer gates
      "t44_repetition_rules" ->
        s"""WITH base AS (SELECT doc_id,
           |    regexp_split_to_array(trim(text), '\\s+') AS toks
           |  FROM documents WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 5),
           |tot AS (SELECT doc_id, toks,
           |    cast(list_sum(list_transform(toks, t -> length(t))) as bigint)
           |      AS total_chars FROM base),
           |bi AS (SELECT doc_id, total_chars, gram, count(*) AS cnt FROM (
           |    SELECT doc_id, total_chars,
           |      toks[i+1] || ' ' || toks[i+2] AS gram
           |    FROM tot, unnest(range(0, len(toks) - 1)) AS u(i)) t
           |  GROUP BY 1, 2, 3),
           |top2 AS (SELECT doc_id, total_chars, gram AS top2_gram,
           |    cnt * (length(gram) - 1) AS top2_chars FROM (
           |    SELECT *, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY cnt DESC, gram ASC) AS rn FROM bi) t WHERE rn = 1),
           |g5 AS (SELECT doc_id, i AS st,
           |    array_to_string(toks[i+1 : i+5], ' ') AS gram
           |  FROM tot, unnest(range(0, len(toks) - 4)) AS u(i)),
           |dupg AS (SELECT doc_id, gram FROM g5
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |cov AS (SELECT DISTINCT g.doc_id, p
           |  FROM g5 g JOIN dupg d USING (doc_id, gram),
           |    unnest(range(g.st, g.st + 5)) AS u(p)),
           |plen AS (SELECT doc_id, i AS p, length(toks[i+1]) AS tok_len
           |  FROM tot, unnest(range(0, len(toks))) AS u(i)),
           |dup5 AS (SELECT c.doc_id,
           |    cast(sum(p.tok_len) as bigint) AS dup5_chars
           |  FROM cov c JOIN plen p USING (doc_id, p) GROUP BY 1)
           |SELECT t.doc_id, t.total_chars, t.top2_gram, t.top2_chars,
           |  coalesce(d.dup5_chars, 0) AS dup5_chars,
           |  cast(t.top2_chars as double) / t.total_chars AS top2_frac,
           |  cast(coalesce(d.dup5_chars, 0) as double) / t.total_chars
           |    AS dup5_frac,
           |  t.top2_chars * 5 > t.total_chars AS flag_top2,
           |  coalesce(d.dup5_chars, 0) * 20 > t.total_chars * 3 AS flag_dup5
           |FROM top2 t LEFT JOIN dup5 d USING (doc_id)
           |ORDER BY doc_id""".stripMargin,

      // capped-tf integer weights, df-capped posting candidates, exact
      // min/max multiset intersection, cross-multiplied theta = 1/2
      "d19_weighted_jaccard" ->
        s"""WITH u AS ($mutCorpusSql),
           |tw AS (SELECT id, tok, least(count(*), 3) AS w FROM (
           |    SELECT doc_id AS id, unnest(${toksSql("text")}) AS tok FROM u) t
           |  WHERE length(tok) > 0 GROUP BY 1, 2),
           |ws AS (SELECT id, cast(sum(w) as bigint) AS wsum FROM tw GROUP BY 1),
           |rare AS (SELECT tw.id, tw.tok FROM tw JOIN (
           |    SELECT tok, count(*) AS df FROM tw GROUP BY 1
           |  ) d ON d.tok = tw.tok WHERE d.df >= 2 AND d.df <= 50),
           |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM rare a JOIN rare b ON a.tok = b.tok AND a.id < b.id),
           |iv AS (SELECT c.id_a, c.id_b,
           |    cast(sum(least(a.w, b.w)) as bigint) AS inter
           |  FROM cand c
           |  JOIN tw a ON a.id = c.id_a
           |  JOIN tw b ON b.id = c.id_b AND b.tok = a.tok
           |  GROUP BY 1, 2)
           |SELECT iv.id_a, iv.id_b, iv.inter,
           |  wa.wsum AS w_a, wb.wsum AS w_b,
           |  round(cast(iv.inter as double)
           |    / cast(wa.wsum + wb.wsum - iv.inter as double), 6) AS wjac
           |FROM iv JOIN ws wa ON wa.id = iv.id_a
           |JOIN ws wb ON wb.id = iv.id_b
           |WHERE iv.inter * 3 >= (wa.wsum + wb.wsum) * 1
           |ORDER BY id_a, id_b""".stripMargin,

      // ground truth = exact per-planted-pair shingle Jaccard;
      // candidates = d04's banding replay — recall itself oracle-checked
      "t39_dedup_eval" ->
        s"""WITH ${shingleSql(mutCorpusSql)}, $mhSql,
           |bands AS (
           |  SELECT id, 0 AS band_no, array_to_string(mh[1:4], '-') AS sig FROM mh
           |  UNION ALL SELECT id, 1, array_to_string(mh[5:8], '-') FROM mh
           |  UNION ALL SELECT id, 2, array_to_string(mh[9:12], '-') FROM mh
           |  UNION ALL SELECT id, 3, array_to_string(mh[13:16], '-') FROM mh),
           |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM bands x JOIN bands y
           |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id),
           |pa AS (SELECT id AS pid, sh.sh FROM sh WHERE id < 100000),
           |pb AS (SELECT id - 100000 AS pid, sh.sh FROM sh WHERE id >= 100000),
           |sa AS (SELECT pid, count(*) AS na FROM pa GROUP BY 1),
           |sb AS (SELECT pid, count(*) AS nb FROM pb GROUP BY 1),
           |iv AS (SELECT pa.pid, count(*) AS ni
           |  FROM pa JOIN pb ON pa.pid = pb.pid AND pa.sh = pb.sh GROUP BY 1),
           |tr AS (SELECT sa.pid, na, nb, coalesce(ni, 0) AS ni,
           |    cast(coalesce(ni, 0) as double)
           |      / cast(na + nb - coalesce(ni, 0) as double) AS jacc
           |  FROM sa JOIN sb USING (pid) LEFT JOIN iv ON iv.pid = sa.pid),
           |cp AS (SELECT DISTINCT id_a AS pid FROM pairs
           |  WHERE id_b = id_a + 100000 AND id_a < 100000),
           |a1 AS (SELECT count(*) AS n_planted,
           |    cast(sum(CASE WHEN jacc >= 0.8 THEN 1 ELSE 0 END) as bigint)
           |      AS n_true_dup,
           |    cast(sum(CASE WHEN jacc >= 0.8
           |        AND pid IN (SELECT pid FROM cp) THEN 1 ELSE 0 END) as bigint)
           |      AS n_found_true
           |  FROM tr),
           |a2 AS (SELECT count(*) AS n_candidates,
           |    cast(sum(CASE WHEN id_b = id_a + 100000 AND id_a < 100000
           |      THEN 1 ELSE 0 END) as bigint) AS n_cand_planted
           |  FROM pairs)
           |SELECT n_planted, n_true_dup, n_found_true,
           |  round(cast(n_found_true as double) / n_true_dup, 6) AS recall,
           |  n_candidates, n_cand_planted
           |FROM a1, a2""".stripMargin,

      // three band layouts over the same 16 minhashes; ground truth =
      // t39's exact planted-pair Jaccard, thresholded at 0.8
      "t40_lsh_tradeoff" -> {
        val layouts = Seq(2, 4, 8).map { nb =>
          val r = 16 / nb
          val bandRows = (0 until nb).map(i =>
            s"SELECT id, $i AS band_no, " +
              s"array_to_string(mh[${i * r + 1}:${(i + 1) * r}], '-') AS sig FROM mh")
            .mkString("\n  UNION ALL ")
          s"""bands$nb AS (
             |  $bandRows),
             |pairs$nb AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
             |  FROM bands$nb x JOIN bands$nb y
             |  ON x.band_no = y.band_no AND x.sig = y.sig AND x.id < y.id),
             |row$nb AS (SELECT cast($nb as bigint) AS bands,
             |    cast($r as bigint) AS rows_per_band,
             |    cast((SELECT count(DISTINCT p.id_a) FROM pairs$nb p
             |      JOIN td ON td.pid = p.id_a
             |      WHERE p.id_b = p.id_a + 100000 AND p.id_a < 100000)
             |      as bigint) AS n_found,
             |    (SELECT count(*) FROM pairs$nb) AS n_candidates)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${shingleSql(mutCorpusSql)}, $mhSql,
           |pa AS (SELECT id AS pid, sh.sh FROM sh WHERE id < 100000),
           |pb AS (SELECT id - 100000 AS pid, sh.sh FROM sh WHERE id >= 100000),
           |sa AS (SELECT pid, count(*) AS na FROM pa GROUP BY 1),
           |sb AS (SELECT pid, count(*) AS nb FROM pb GROUP BY 1),
           |iv AS (SELECT pa.pid, count(*) AS ni
           |  FROM pa JOIN pb ON pa.pid = pb.pid AND pa.sh = pb.sh GROUP BY 1),
           |td AS (SELECT sa.pid FROM sa JOIN sb USING (pid)
           |  LEFT JOIN iv ON iv.pid = sa.pid
           |  WHERE cast(coalesce(ni, 0) as double)
           |    / cast(na + nb - coalesce(ni, 0) as double) >= 0.8),
           |nt AS (SELECT count(*) AS n_true_dup FROM td),
           |$layouts
           |SELECT bands, rows_per_band, n_true_dup, n_found,
           |  round(cast(n_found as double) / n_true_dup, 6) AS recall,
           |  n_candidates
           |FROM (SELECT * FROM row2 UNION ALL SELECT * FROM row4
           |      UNION ALL SELECT * FROM row8), nt
           |ORDER BY bands""".stripMargin
      },

      // top-1024 rank-frequency log-log OLS in the shared 16.16
      // fixed-point log2; intercept rescaled to log2 units (/2^16)
      "t41_zipf_slope" -> {
        val x = Mixture.log2FpSql("rank")
        val y = Mixture.log2FpSql("freq")
        s"""WITH tk AS (SELECT unnest(${toksSql("text")}) AS tok FROM documents),
           |tf AS (SELECT tok, count(*) AS freq FROM tk
           |  WHERE length(tok) > 0 GROUP BY 1),
           |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok ASC)
           |    AS rank FROM tf),
           |xy AS (SELECT cast($x as bigint) AS x, cast($y as bigint) AS y
           |  FROM r WHERE rank <= 1024),
           |m AS (SELECT count(*) AS n, cast(sum(x) as bigint) AS sx,
           |    cast(sum(x * x) as bigint) AS sxx,
           |    cast(sum(y) as bigint) AS sy,
           |    cast(sum(x * y) as bigint) AS sxy FROM xy),
           |s AS (SELECT n, sx, sy,
           |    cast(n * sxy - sx * sy as double)
           |      / cast(NULLIF(n * sxx - sx * sx, 0) as double) AS slope_d
           |  FROM m)
           |SELECT n AS n_tokens, round(slope_d, 6) AS slope,
           |  round((cast(sy as double) / cast(n as double)
           |      - slope_d * (cast(sx as double) / cast(n as double)))
           |    / 65536.0, 6) AS intercept_log2
           |FROM s""".stripMargin
      },

      // exact integer two-sample KS per source vs rest-of-corpus:
      // cross-multiplied CDF counts, one division at readout
      "t42_ks_drift" ->
        """WITH d AS (SELECT source, cast(n_chars as bigint) AS v
          |  FROM documents),
          |psv AS (SELECT source, v, count(*) AS cnt FROM d GROUP BY 1, 2),
          |tot AS (SELECT source, cast(sum(cnt) as bigint) AS n
          |  FROM psv GROUP BY 1),
          |grand AS (SELECT cast(sum(n) as bigint) AS nn FROM tot),
          |gv AS (SELECT v, cast(sum(cnt) as bigint) AS gcnt FROM psv
          |  GROUP BY 1),
          |gc AS (SELECT v, cast(sum(gcnt) OVER (ORDER BY v
          |    ROWS UNBOUNDED PRECEDING) as bigint) AS gcdf FROM gv),
          |grid AS (SELECT t.source, t.n, g.v, g.gcdf,
          |    coalesce(p.cnt, 0) AS cnt
          |  FROM tot t CROSS JOIN gc g
          |  LEFT JOIN psv p ON p.source = t.source AND p.v = g.v),
          |cdf AS (SELECT source, n, v, gcdf,
          |    cast(sum(cnt) OVER (PARTITION BY source ORDER BY v
          |      ROWS UNBOUNDED PRECEDING) as bigint) AS acdf
          |  FROM grid)
          |SELECT c.source, c.n, g.nn - c.n AS m,
          |  cast(max(abs(c.acdf * (g.nn - c.n) - (c.gcdf - c.acdf) * c.n))
          |    as bigint) AS ks_num,
          |  round(cast(max(abs(c.acdf * (g.nn - c.n)
          |      - (c.gcdf - c.acdf) * c.n)) as double)
          |    / cast(c.n * (g.nn - c.n) as double), 6) AS ks
          |FROM cdf c, grand g
          |GROUP BY 1, 2, 3 ORDER BY source""".stripMargin,

      // m11: the full constellation chain replayed — byte codes,
      // 8-byte frame energies, plateau-deterministic peaks, fan-out-3
      // pair hashes, df-capped posting join, offset-aligned vote
      "m11_constellation_match" -> {
        def prSql(p: String, src: String) =
          s"""${p}cs AS (SELECT doc_id, list_transform(string_split(text, ''),
             |    ch -> cast(ascii(ch) as bigint)) AS cs FROM $src),
             |${p}fr AS (SELECT doc_id, f,
             |    cast(list_sum(cs[f*8+1 : f*8+8]) as bigint) AS e
             |  FROM (SELECT doc_id, cs, unnest(range(0, len(cs) // 8)) AS f
             |        FROM ${p}cs WHERE len(cs) >= 8) t),
             |${p}pk AS (SELECT doc_id, f, least(e, 2047) AS lvl FROM (
             |    SELECT doc_id, f, e,
             |      lag(e, 1) OVER w AS l1, lag(e, 2) OVER w AS l2,
             |      lead(e, 1) OVER w AS r1, lead(e, 2) OVER w AS r2
             |    FROM ${p}fr WINDOW w AS (PARTITION BY doc_id ORDER BY f)) t
             |  WHERE e > coalesce(l1, -1) AND e > coalesce(l2, -1)
             |    AND e >= coalesce(r1, -1) AND e >= coalesce(r2, -1)),
             |${p}pr AS (SELECT doc_id,
             |    (la * 2048 + lb) * 17 + (bf - af) AS hash, af AS t
             |  FROM (SELECT a.doc_id, a.f AS af, b.f AS bf,
             |      a.lvl AS la, b.lvl AS lb,
             |      row_number() OVER (PARTITION BY a.doc_id, a.f
             |        ORDER BY b.f) AS fo
             |    FROM ${p}pk a JOIN ${p}pk b ON b.doc_id = a.doc_id
             |      AND b.f > a.f AND b.f - a.f <= 16) t
             |  WHERE fo <= 3)""".stripMargin
        s"""WITH ${prSql("d", "documents")},
           |qd AS (SELECT doc_id,
           |    substring(text, ((length(text) // 3) // 8) * 8 + 1,
           |      length(text) // 3) AS text
           |  FROM documents WHERE doc_id % 25 = 0),
           |${prSql("q", "qd")},
           |dk AS (SELECT hash FROM dpr GROUP BY hash HAVING count(*) <= 64),
           |m AS (SELECT q.doc_id AS q_id, d.doc_id, d.t - q.t AS off,
           |    count(*) AS n_aligned
           |  FROM qpr q JOIN dpr d ON d.hash = q.hash
           |  JOIN dk ON dk.hash = d.hash GROUP BY 1, 2, 3)
           |SELECT q_id, doc_id AS match_id, off, n_aligned,
           |  doc_id = q_id AS self_match
           |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY n_aligned DESC, doc_id ASC, off ASC) AS rn FROM m) t
           |WHERE rn = 1 ORDER BY q_id""".stripMargin
      },

      // m13: m11's chain replayed per lever arm — (fan-out, df-cap) in
      // {(3,64) registered, (3,256) cap lever, (6,64) fan lever} —
      // reduced to the planted self-match counts; recall is the raw
      // IEEE division
      "m13_constellation_recall" -> {
        def prSql(p: String, src: String, fanOut: Int) =
          s"""${p}cs AS (SELECT doc_id, list_transform(string_split(text, ''),
             |    ch -> cast(ascii(ch) as bigint)) AS cs FROM $src),
             |${p}fr AS (SELECT doc_id, f,
             |    cast(list_sum(cs[f*8+1 : f*8+8]) as bigint) AS e
             |  FROM (SELECT doc_id, cs, unnest(range(0, len(cs) // 8)) AS f
             |        FROM ${p}cs WHERE len(cs) >= 8) t),
             |${p}pk AS (SELECT doc_id, f, least(e, 2047) AS lvl FROM (
             |    SELECT doc_id, f, e,
             |      lag(e, 1) OVER w AS l1, lag(e, 2) OVER w AS l2,
             |      lead(e, 1) OVER w AS r1, lead(e, 2) OVER w AS r2
             |    FROM ${p}fr WINDOW w AS (PARTITION BY doc_id ORDER BY f)) t
             |  WHERE e > coalesce(l1, -1) AND e > coalesce(l2, -1)
             |    AND e >= coalesce(r1, -1) AND e >= coalesce(r2, -1)),
             |${p}pr AS (SELECT doc_id,
             |    (la * 2048 + lb) * 17 + (bf - af) AS hash, af AS t
             |  FROM (SELECT a.doc_id, a.f AS af, b.f AS bf,
             |      a.lvl AS la, b.lvl AS lb,
             |      row_number() OVER (PARTITION BY a.doc_id, a.f
             |        ORDER BY b.f) AS fo
             |    FROM ${p}pk a JOIN ${p}pk b ON b.doc_id = a.doc_id
             |      AND b.f > a.f AND b.f - a.f <= 16) t
             |  WHERE fo <= $fanOut)""".stripMargin
        def armSql(fo: Int, cap: Int) = {
          val p = s"f${fo}c$cap"
          s"""${prSql(s"${p}d", "documents", fo)},
             |${p}qd AS (SELECT doc_id,
             |    substring(text, ((length(text) // 3) // 8) * 8 + 1,
             |      length(text) // 3) AS text
             |  FROM documents WHERE doc_id % 25 = 0),
             |${prSql(s"${p}q", s"${p}qd", fo)},
             |${p}dk AS (SELECT hash FROM ${p}dpr GROUP BY hash
             |  HAVING count(*) <= $cap),
             |${p}m AS (SELECT q.doc_id AS q_id, d.doc_id, d.t - q.t AS off,
             |    count(*) AS n_aligned
             |  FROM ${p}qpr q JOIN ${p}dpr d ON d.hash = q.hash
             |  JOIN ${p}dk dk ON dk.hash = d.hash GROUP BY 1, 2, 3),
             |${p}res AS (SELECT cast($fo as bigint) AS fan_out,
             |    cast($cap as bigint) AS df_cap,
             |    (SELECT count(DISTINCT doc_id) FROM ${p}qpr) AS n_queries,
             |    count(*) FILTER (WHERE doc_id = q_id) AS n_matched
             |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
             |      ORDER BY n_aligned DESC, doc_id ASC, off ASC) AS rn
             |    FROM ${p}m) t
             |  WHERE rn = 1)""".stripMargin
        }
        s"""WITH ${armSql(3, 64)},
           |${armSql(3, 256)},
           |${armSql(6, 64)}
           |SELECT fan_out, df_cap, n_queries, n_matched,
           |  CASE WHEN n_queries > 0
           |    THEN cast(n_matched as double) / n_queries END AS recall
           |FROM (SELECT * FROM f3c64res UNION ALL SELECT * FROM f3c256res
           |      UNION ALL SELECT * FROM f6c64res)
           |ORDER BY fan_out, df_cap""".stripMargin
      },

      // byte histogram over ascii codes (the m08 payload convention);
      // entropy in the shared integer-exact fixed-point log2
      "m10_byte_entropy" ->
        s"""WITH t AS (SELECT doc_id, list_transform(string_split(text, ''),
          |    ch -> cast(ascii(ch) as bigint)) AS codes FROM documents),
          |cc AS (SELECT doc_id, code, count(*) AS c
          |  FROM (SELECT doc_id, unnest(codes) AS code FROM t) GROUP BY 1, 2),
          |nn AS (SELECT doc_id, cast(sum(c) as bigint) AS n,
          |    count(*) AS nd FROM cc GROUP BY 1),
          |e AS (SELECT cc.doc_id,
          |    cast(sum(cc.c * ((${Mixture.log2FpSql("nn.n")})
          |      - (${Mixture.log2FpSql("cc.c")}))) as bigint) AS efp
          |  FROM cc JOIN nn USING (doc_id) GROUP BY 1)
          |SELECT t.doc_id, coalesce(nn.n, 0) AS n_bytes,
          |  cast(coalesce(nn.nd, 0) as bigint) AS n_distinct,
          |  coalesce(e.efp, 0) AS entropy_fp,
          |  CASE WHEN coalesce(nn.n, 0) > 0
          |    THEN cast(e.efp as double) / cast(nn.n * 65536 as double)
          |    ELSE 0.0 END AS bits_per_byte
          |FROM t LEFT JOIN nn USING (doc_id) LEFT JOIN e USING (doc_id)
          |ORDER BY t.doc_id""".stripMargin,

      // frame signature = 16-byte block sum over ascii codes (the m08
      // payload convention); cuts from consecutive-signature jumps
      "m09_shot_cuts" ->
        """WITH t AS (SELECT doc_id, list_transform(string_split(text, ''),
          |    c -> cast(ascii(c) as bigint)) AS codes FROM documents),
          |b AS (SELECT doc_id, len(codes) AS n,
          |    cast(ceil(len(codes) / 16.0) as int) AS nb, codes FROM t),
          |sg AS (SELECT doc_id, nb, list_transform(range(0, nb), i ->
          |    list_aggregate(codes[i*16+1 : least(n, (i+1)*16)], 'sum')) AS sig
          |  FROM b),
          |d AS (SELECT doc_id, nb, list_transform(range(2, nb + 1), i ->
          |    abs(sig[i] - sig[i-1])) AS jumps FROM sg)
          |SELECT doc_id, cast(nb as bigint) AS n_frames,
          |  coalesce(cast(list_sum(list_transform(jumps, j ->
          |    CASE WHEN j > 96 THEN 1 ELSE 0 END)) as bigint), 0) AS n_cuts,
          |  CASE WHEN nb > 0
          |    THEN coalesce(cast(list_sum(list_transform(jumps, j ->
          |      CASE WHEN j > 96 THEN 1 ELSE 0 END)) as bigint), 0) + 1
          |    ELSE 0 END AS n_shots,
          |  coalesce(cast(list_max(jumps) as bigint), 0) AS max_jump
          |FROM d ORDER BY doc_id""".stripMargin,

      // m12: m09's shot segmentation replayed + per-shot argmax of the
      // integer variance sharpness, ties to the earliest frame
      "m12_shot_keyframes" ->
        """WITH t AS (SELECT doc_id, list_transform(string_split(text, ''),
          |    c -> cast(ascii(c) as bigint)) AS codes FROM documents),
          |b AS (SELECT doc_id, len(codes) AS n,
          |    cast(ceil(len(codes) / 16.0) as int) AS nb, codes FROM t),
          |fr AS (SELECT doc_id, i AS f,
          |    cast(list_sum(codes[i*16+1 : least(n, (i+1)*16)]) as bigint)
          |      AS s,
          |    cast(list_sum(list_transform(
          |      codes[i*16+1 : least(n, (i+1)*16)], x -> x * x)) as bigint)
          |      AS q,
          |    cast(least(n, (i+1)*16) - i*16 as bigint) AS bl
          |  FROM b, unnest(range(0, nb)) AS u(i)),
          |j AS (SELECT doc_id, f, s, q, bl,
          |    CASE WHEN lag(s) OVER w IS NULL THEN 0
          |      WHEN abs(s - lag(s) OVER w) > 96 THEN 1 ELSE 0 END AS cut
          |  FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
          |sid AS (SELECT doc_id, f, bl * q - s * s AS sharp,
          |    cast(sum(cut) OVER (PARTITION BY doc_id ORDER BY f)
          |      as bigint) AS shot
          |  FROM j),
          |g AS (SELECT doc_id, shot, f, sharp, row_number() OVER (
          |    PARTITION BY doc_id, shot ORDER BY sharp DESC, f ASC) AS rn
          |  FROM sid),
          |agg AS (SELECT doc_id, shot, min(f) AS start_f, max(f) AS end_f
          |  FROM sid GROUP BY 1, 2)
          |SELECT a.doc_id, a.shot, a.start_f, a.end_f,
          |  g.f AS key_f, g.sharp AS sharp_fp
          |FROM agg a JOIN g ON g.doc_id = a.doc_id AND g.shot = a.shot
          |  AND g.rn = 1
          |ORDER BY a.doc_id, a.shot""".stripMargin,

      // m17: m12's shot CTEs (minus the keyframe) + m08's activity
      // verdicts turned into run SPANS by gaps-and-islands, then the
      // interval-overlap LEFT join and the clipped-overlap sum —
      // speech_blocks cast to BIGINT (DuckDB sums to HUGEINT)
      "m17_speech_coverage" ->
        """WITH t AS (SELECT doc_id, list_transform(string_split(text, ''),
          |    c -> cast(ascii(c) as bigint)) AS codes FROM documents),
          |b AS (SELECT doc_id, len(codes) AS n,
          |    cast(ceil(len(codes) / 16.0) as int) AS nb, codes FROM t),
          |fr AS (SELECT doc_id, i AS f,
          |    cast(list_sum(codes[i*16+1 : least(n, (i+1)*16)]) as bigint)
          |      AS s,
          |    cast(least(n, (i+1)*16) - i*16 as bigint) AS bl
          |  FROM b, unnest(range(0, nb)) AS u(i)),
          |j AS (SELECT doc_id, f, s, bl,
          |    CASE WHEN lag(s) OVER w IS NULL THEN 0
          |      WHEN abs(s - lag(s) OVER w) > 96 THEN 1 ELSE 0 END AS cut
          |  FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
          |sid AS (SELECT doc_id, f, s, bl,
          |    cast(sum(cut) OVER (PARTITION BY doc_id ORDER BY f)
          |      as bigint) AS shot
          |  FROM j),
          |shots AS (SELECT doc_id, shot, min(f) AS start_f, max(f) AS end_f
          |  FROM sid GROUP BY 1, 2),
          |act AS (SELECT doc_id, f,
          |    CASE WHEN s >= 95 * bl THEN 1 ELSE 0 END AS a FROM sid),
          |segs AS (SELECT doc_id, min(f) AS b_start, max(f) AS b_end FROM (
          |    SELECT doc_id, f, a,
          |      f - row_number() OVER (PARTITION BY doc_id, a ORDER BY f)
          |        AS grp
          |    FROM act) t2
          |  WHERE a = 1 GROUP BY doc_id, grp)
          |SELECT sh.doc_id, sh.shot, sh.start_f, sh.end_f,
          |  sh.end_f - sh.start_f + 1 AS shot_blocks,
          |  cast(coalesce(sum(CASE WHEN g.b_start IS NULL THEN 0
          |    ELSE least(g.b_end, sh.end_f)
          |      - greatest(g.b_start, sh.start_f) + 1 END), 0) as bigint)
          |    AS speech_blocks,
          |  round(cast(coalesce(sum(CASE WHEN g.b_start IS NULL THEN 0
          |      ELSE least(g.b_end, sh.end_f)
          |        - greatest(g.b_start, sh.start_f) + 1 END), 0) as double)
          |    / (sh.end_f - sh.start_f + 1), 6) AS speech_frac,
          |  coalesce(sum(CASE WHEN g.b_start IS NULL THEN 0
          |    ELSE least(g.b_end, sh.end_f)
          |      - greatest(g.b_start, sh.start_f) + 1 END), 0) = 0 AS is_silent
          |FROM shots sh LEFT JOIN segs g ON g.doc_id = sh.doc_id
          |  AND g.b_start <= sh.end_f AND g.b_end >= sh.start_f
          |GROUP BY sh.doc_id, sh.shot, sh.start_f, sh.end_f
          |ORDER BY sh.doc_id, sh.shot""".stripMargin,

      // aHash over ascii codes (the corpus is ASCII, so char codes ==
      // payload bytes, the m02/m03 convention); 4 x 16-bit bands,
      // first-agreeing-band dedup, exact hamming via bit_count(xor)
      "m06_phash_neardup" ->
        s"""WITH u AS (SELECT doc_id, text FROM documents
           |      UNION ALL SELECT doc_id + 100000,
           |        upper(text[1:3]) || substring(text, 4) FROM documents),
           |c AS (SELECT doc_id, list_transform(string_split(text, ''),
           |    ch -> cast(ascii(ch) as bigint)) AS codes FROM u),
           |g AS (SELECT doc_id, len(codes) AS n, codes FROM c
           |  WHERE len(codes) >= 64),
           |sm AS (SELECT doc_id,
           |    list_transform(range(0, 64), i -> codes[(i*n)//64 + 1]) AS smp
           |  FROM g),
           |m AS (SELECT doc_id, smp,
           |    cast(list_sum(smp) as bigint) // 64 AS mean FROM sm),
           |bs AS (SELECT doc_id, list_transform(range(0, 4), j ->
           |    cast(list_sum(list_transform(range(0, 16), i ->
           |      CASE WHEN smp[j*16 + i + 1] >= mean
           |        THEN (1::BIGINT << i) ELSE 0 END)) as bigint)) AS bands
           |  FROM m),
           |e AS (SELECT doc_id, jt.j, bands[jt.j + 1] AS sig, bands
           |  FROM bs, (SELECT unnest(range(0, 4)) AS j) jt),
           |p AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           |    x.bands AS ba, y.bands AS bb
           |  FROM e x JOIN e y
           |  ON x.j = y.j AND x.sig = y.sig AND x.doc_id < y.doc_id
           |  WHERE x.j = CASE WHEN x.bands[1] = y.bands[1] THEN 0
           |    WHEN x.bands[2] = y.bands[2] THEN 1
           |    WHEN x.bands[3] = y.bands[3] THEN 2 ELSE 3 END)
           |SELECT * FROM (
           |  SELECT id_a, id_b,
           |    cast(bit_count(xor(ba[1], bb[1])) + bit_count(xor(ba[2], bb[2]))
           |       + bit_count(xor(ba[3], bb[3])) + bit_count(xor(ba[4], bb[4]))
           |      as bigint) AS hamming
           |  FROM p)
           |WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin,

      "m05_chunk_overlap" ->
        s"""WITH u AS ($mutCorpusSql),
           |t AS (SELECT doc_id, list_transform(string_split(text, ''),
           |    c -> cast(ascii(c) as bigint)) AS codes FROM u),
           |d AS (SELECT doc_id, codes, len(codes) AS n FROM t),
           |bnd AS (SELECT doc_id, codes, n,
           |    list_filter(range(8, n + 1), i ->
           |      list_reduce(codes[i-7 : i], (a, c) -> (a*31 + c) % $P) % 64 = 0) AS ends
           |  FROM d),
           |be AS (SELECT doc_id, codes,
           |    CASE WHEN len(ends) > 0 AND ends[-1] = n THEN ends
           |         ELSE list_append(ends, n) END AS b
           |  FROM bnd),
           |ch AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(b) + 1), j ->
           |    list_reduce(codes[(CASE WHEN j = 1 THEN 1 ELSE b[j-1] + 1 END) : b[j]],
           |      (a, c) -> (a*31 + c) % $P))) AS ch
           |  FROM be),
           |sizes AS (SELECT doc_id, count(*) AS nch FROM ch GROUP BY 1),
           |fdf AS (SELECT ch, count(*) AS df FROM ch GROUP BY 1),
           |rare AS (SELECT c.doc_id, c.ch FROM ch c JOIN fdf USING (ch) WHERE fdf.df <= 16),
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
           |  FROM rare a JOIN rare b ON a.ch = b.ch AND a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT id_a, id_b, n_shared, round(ov, 6) AS overlap FROM (
           |  SELECT p.id_a, p.id_b, p.n_shared,
           |    cast(p.n_shared as double) / least(sa.nch, sb.nch) AS ov
           |  FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a
           |  JOIN sizes sb ON sb.doc_id = p.id_b) t
           |WHERE ov >= 0.5 ORDER BY id_a, id_b""".stripMargin,

      // frame-level near-dup: every 4th 16-byte block keyed by exact
      // integer content (byte-sum*64 + block length), m05's df-capped
      // posting-pair tail over the distinct frame-key sets
      "m07_frame_neardup" ->
        s"""WITH u AS ($mutCorpusSql),
           |t AS (SELECT doc_id, list_transform(string_split(text, ''),
           |    c -> cast(ascii(c) as bigint)) AS codes FROM u),
           |d AS (SELECT doc_id, codes, len(codes) AS n,
           |    cast(ceil(len(codes) / 16.0) as bigint) AS nb FROM t),
           |k AS (SELECT DISTINCT doc_id,
           |    unnest(list_transform(list_filter(range(0, nb), i -> i % 4 = 0), i ->
           |      cast(list_aggregate(codes[i*16+1 : least(n, (i+1)*16)], 'sum') as bigint) * 64
           |        + (least(n, (i+1)*16) - i*16))) AS ch
           |  FROM d),
           |sizes AS (SELECT doc_id, count(*) AS nch FROM k GROUP BY 1),
           |fdf AS (SELECT ch, count(*) AS df FROM k GROUP BY 1),
           |rare AS (SELECT c.doc_id, c.ch FROM k c JOIN fdf USING (ch) WHERE fdf.df <= 16),
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
           |  FROM rare a JOIN rare b ON a.ch = b.ch AND a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT id_a, id_b, n_shared, round(ov, 6) AS overlap FROM (
           |  SELECT p.id_a, p.id_b, p.n_shared,
           |    cast(p.n_shared as double) / least(sa.nch, sb.nch) AS ov
           |  FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a
           |  JOIN sizes sb ON sb.doc_id = p.id_b) t
           |WHERE ov >= 0.5 ORDER BY id_a, id_b""".stripMargin,

      // the batch spelling of st10's streaming encode+join: the PQ
      // encode is deterministic, so the code-identical-blocking
      // verdicts are batch-invariant
      "st10_stream_pq_match" -> {
        val d2 = (a: String, b: String) =>
          s"""list_reduce(list_transform(range(1, 9),
             |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)""".stripMargin
        s"""WITH e AS (SELECT vec_id AS id,
           |    list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |js AS (SELECT unnest(range(0, 8)) AS j),
           |cb AS (SELECT j, id AS c_id, v[j*8+1 : j*8+8] AS cv FROM e, js WHERE id < 32),
           |bsub AS (SELECT id, j, v[j*8+1 : j*8+8] AS sv FROM e, js),
           |benc AS (SELECT id, j, c_id FROM (
           |    SELECT s.id, s.j, c.c_id, row_number() OVER (PARTITION BY s.id, s.j
           |      ORDER BY ${d2("s.sv", "c.cv")} ASC, c.c_id ASC) AS rn
           |    FROM bsub s JOIN cb c ON s.j = c.j) t WHERE rn = 1),
           |bcodes AS (SELECT id AS n_id,
           |    array_to_string(list(c_id ORDER BY j), ',') AS ckey
           |  FROM benc GROUP BY id),
           |sh AS (SELECT id + 100000 AS id,
           |    CASE WHEN id % 2 = 1 THEN list_transform(v, x -> x + 10) ELSE v END AS v
           |  FROM e),
           |ssub AS (SELECT id, j, v[j*8+1 : j*8+8] AS sv FROM sh, js),
           |senc AS (SELECT id, j, c_id FROM (
           |    SELECT s.id, s.j, c.c_id, row_number() OVER (PARTITION BY s.id, s.j
           |      ORDER BY ${d2("s.sv", "c.cv")} ASC, c.c_id ASC) AS rn
           |    FROM ssub s JOIN cb c ON s.j = c.j) t WHERE rn = 1),
           |scodes AS (SELECT id,
           |    array_to_string(list(c_id ORDER BY j), ',') AS ckey
           |  FROM senc GROUP BY id)
           |SELECT sc.id AS vec_id,
           |  coalesce(min(bc.n_id), sc.id) AS canonical_id,
           |  (min(bc.n_id) IS NULL) AS is_new
           |FROM scodes sc LEFT JOIN bcodes bc ON bc.ckey = sc.ckey
           |GROUP BY sc.id ORDER BY vec_id""".stripMargin
      },

      // the batch spelling of the streaming router: stateless verdicts
      // are batch-invariant, so the aggregate matches exactly
      "st09_stream_quality_route" ->
        s"""SELECT lang, cast(CASE WHEN n >= 40 AND mwl >= 3.0 AND mwl <= 10.0
           |    AND div >= 0.5 AND stop >= 2 AND mf <= 0.12
           |    THEN 1 ELSE 0 END as bigint) AS keep,
           |  count(*) AS n_docs, cast(sum(n) as bigint) AS sum_tokens
           |FROM (SELECT lang, len(toks) AS n,
           |    cast(list_reduce(list_transform(toks, t -> cast(length(t) as bigint)),
           |      (a,b) -> a+b) as double) / len(toks) AS mwl,
           |    cast(len(list_distinct(toks)) as double) / len(toks) AS div,
           |    ${stopHitsSql("toks")} AS stop,
           |    cast(list_max(list_transform(list_distinct(toks),
           |      d -> len(list_filter(toks, x -> x = d)))) as double) / len(toks) AS mf
           |  FROM (SELECT lang, $tk AS toks FROM documents))
           |GROUP BY 1, 2 ORDER BY lang, keep""".stripMargin,

      "st01_stream_hourly" ->
        """SELECT (epoch_ms(ts) // 1000 // 3600) * 3600 AS hour_start,
          |  event_type, count(*) AS n,
          |  cast(sum(cast(value as decimal(18,4))) as double) AS total_value
          |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

      "st02_stream_user_state" ->
        """SELECT user_id, max(value) AS max_value, count(*) AS n_events
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

      // q46's MERGE oracle minus the keep branch: a CDC stream only
      // surfaces touched keys
      "st24_stream_merge_upsert" ->
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
          |SELECT ch.mk AS merge_key,
          |  CASE WHEN c.c_custkey IS NOT NULL THEN 'update'
          |       ELSE 'insert' END AS action,
          |  c.c_name, c.c_mktsegment, ch.last_type, ch.last_seen_s,
          |  ch.n_events
          |FROM ch LEFT JOIN customer c ON c.c_custkey = ch.mk
          |ORDER BY merge_key""".stripMargin,

      // q41's run history + predecessor status, replayed batch-side;
      // the interval join picks each event's enclosing run
      "st25_stream_scd2_enrich" ->
        """WITH e AS (SELECT event_id, user_id, event_type, value,
          |    epoch_ms(ts) // 1000 AS sec FROM events),
          |o AS (SELECT *, lag(event_type, 1) OVER (
          |    PARTITION BY user_id ORDER BY sec, event_id) AS prev_t FROM e),
          |m AS (SELECT *, CASE WHEN prev_t IS NULL OR prev_t <> event_type
          |    THEN 1 ELSE 0 END AS chg FROM o),
          |g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
          |    ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) AS run_id FROM m),
          |r AS (SELECT user_id, run_id, min(event_type) AS status,
          |    min(sec) AS valid_from FROM g GROUP BY 1, 2),
          |h AS (SELECT user_id, valid_from,
          |    lead(valid_from, 1) OVER (
          |      PARTITION BY user_id ORDER BY run_id) AS valid_to,
          |    coalesce(lag(status, 1) OVER (
          |      PARTITION BY user_id ORDER BY run_id), 'none') AS prev_status
          |  FROM r),
          |j AS (SELECT e.event_type, h.prev_status, e.value
          |  FROM e JOIN h ON e.user_id = h.user_id
          |    AND e.sec >= h.valid_from
          |    AND (h.valid_to IS NULL OR e.sec < h.valid_to))
          |SELECT event_type, prev_status, count(*) AS n,
          |  cast(sum(cast(value as decimal(18,4))) as double) AS total_value
          |FROM j GROUP BY 1, 2 ORDER BY event_type, prev_status""".stripMargin,

      // batch replay of the streaming gap-anomaly state machine: the
      // prior-gap moments via UNBOUNDED PRECEDING..1 PRECEDING frames,
      // the 3-sigma verdict in the same integer arithmetic (HUGEINT —
      // (g*n)^2 overflows bigint exactly where the engine needs BigInt)
      "st26_stream_anomaly" ->
        """WITH e AS (SELECT user_id, event_id,
          |    epoch_ms(ts) // 1000 AS s FROM events),
          |l AS (SELECT user_id, event_id, s,
          |    s - lag(s) OVER (PARTITION BY user_id ORDER BY s, event_id)
          |      AS g FROM e),
          |gp AS (SELECT user_id, event_id, s, g FROM l WHERE g IS NOT NULL),
          |st AS (SELECT user_id, g,
          |    count(g) OVER w AS pn,
          |    coalesce(sum(g) OVER w, 0) AS ps,
          |    coalesce(sum(g*g) OVER w, 0) AS pq
          |  FROM gp WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          |fl AS (SELECT user_id,
          |    CASE WHEN pn >= 8 AND
          |      (cast(g as hugeint)*pn - ps) * (cast(g as hugeint)*pn - ps)
          |        > 9 * (cast(pn as hugeint)*pq - cast(ps as hugeint)*ps)
          |    THEN 1 ELSE 0 END AS anom
          |  FROM st)
          |SELECT user_id, cast(count(*) as bigint) AS n_gaps,
          |  cast(sum(anom) as bigint) AS n_anomalies
          |FROM fl GROUP BY 1 ORDER BY user_id""".stripMargin,

      // even-half reference vs odd-half live, 20 value buckets; exact
      // integer L1 cross-products, one final division to TVD
      "st28_stream_drift" ->
        """WITH e AS (SELECT event_type, user_id,
          |    cast(least(floor(value / 25), 19) as bigint) AS b FROM events),
          |r AS (SELECT event_type, b, count(*) AS ref_n FROM e
          |  WHERE user_id % 2 = 0 GROUP BY 1, 2),
          |o AS (SELECT event_type, b, count(*) AS obs_n FROM e
          |  WHERE user_id % 2 = 1 GROUP BY 1, 2),
          |f AS (SELECT coalesce(o.event_type, r.event_type) AS event_type,
          |    coalesce(o.obs_n, 0) AS obs_n, coalesce(r.ref_n, 0) AS ref_n
          |  FROM o FULL JOIN r ON r.event_type = o.event_type AND r.b = o.b),
          |t AS (SELECT event_type, cast(sum(obs_n) as bigint) AS n_obs,
          |    cast(sum(ref_n) as bigint) AS n_ref FROM f GROUP BY 1),
          |l AS (SELECT f.event_type,
          |    cast(sum(abs(f.obs_n * t.n_ref - f.ref_n * t.n_obs)) as bigint)
          |      AS l1_fp
          |  FROM f JOIN t ON t.event_type = f.event_type GROUP BY 1)
          |SELECT l.event_type, t.n_obs, t.n_ref, l.l1_fp,
          |  round(cast(l.l1_fp as double) / (cast(t.n_obs as double) * t.n_ref * 2.0), 6)
          |    AS tvd
          |FROM l JOIN t ON t.event_type = l.event_type
          |ORDER BY l.event_type""".stripMargin,

      // the final maintained frontier = the batch skyline per type,
      // spelled as direct dominance (q52's oracle shape, grouped)
      "st27_stream_skyline" ->
        """WITH e AS (SELECT event_type, value,
          |    epoch_ms(ts) // 1000 AS sec FROM events)
          |SELECT event_type, value, sec FROM e r
          |WHERE NOT EXISTS (SELECT 1 FROM e s
          |  WHERE s.event_type = r.event_type
          |    AND s.value >= r.value AND s.sec <= r.sec
          |    AND (s.value > r.value OR s.sec < r.sec))
          |ORDER BY event_type, sec, value""".stripMargin,

      "st03_stream_watermark" ->
        """WITH e AS (SELECT epoch_ms(ts) // 1000 AS sec, event_type, value FROM events)
          |SELECT hour_start, event_type, n, total_value FROM (
          |  SELECT (sec // 3600) * 3600 AS hour_start, event_type,
          |    count(*) AS n, cast(sum(cast(value as decimal(18,4))) as double) AS total_value
          |  FROM e GROUP BY 1, 2)
          |WHERE hour_start + 3600 <= (SELECT max(sec) FROM e) - 7200
          |ORDER BY hour_start, event_type""".stripMargin,

      "st04_stream_join" ->
        """WITH e AS (SELECT event_id, user_id, event_type,
          |  epoch_ms(ts) // 1000 AS sec FROM events)
          |SELECT c.event_id AS c_id, v.event_id AS v_id, c.user_id
          |FROM e c JOIN e v
          |  ON c.event_type = 'click' AND v.event_type = 'view'
          |  AND v.user_id = c.user_id
          |  AND v.sec <= c.sec AND v.sec >= c.sec - 3600
          |ORDER BY c_id, v_id""".stripMargin,

      // left-outer closed form: inner matches are the batch join;
      // null (-1) rows are exactly the unmatched clicks decidable
      // under the final global watermark min(max click, max view) - 1h
      "st22_stream_outer_join" ->
        """WITH e AS (SELECT event_id, user_id, event_type,
          |    epoch_ms(ts) // 1000 AS sec FROM events),
          |c AS (SELECT event_id AS c_id, user_id, sec FROM e
          |  WHERE event_type = 'click'),
          |v AS (SELECT event_id AS v_id, user_id, sec FROM e
          |  WHERE event_type = 'view'),
          |j AS (SELECT c.c_id, v.v_id, c.user_id FROM c JOIN v
          |    ON v.user_id = c.user_id
          |    AND v.sec <= c.sec AND v.sec >= c.sec - 3600),
          |wm AS (SELECT least((SELECT max(sec) FROM c),
          |    (SELECT max(sec) FROM v)) - 3600 AS w),
          |un AS (SELECT c.c_id, -1 AS v_id, c.user_id FROM c, wm
          |    WHERE c.sec <= wm.w AND NOT EXISTS (SELECT 1 FROM v
          |      WHERE v.user_id = c.user_id
          |        AND v.sec <= c.sec AND v.sec >= c.sec - 3600))
          |SELECT c_id, cast(v_id as bigint) AS v_id, user_id
          |FROM (SELECT * FROM j UNION ALL SELECT * FROM un)
          |ORDER BY c_id, v_id""".stripMargin,

      "st05_stream_sessions" ->
        """WITH e AS (SELECT user_id, epoch_ms(ts) // 1000 AS sec FROM events),
          |x AS (SELECT user_id, sec,
          |  CASE WHEN lag(sec) OVER w IS NULL
          |         OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)),
          |s AS (SELECT user_id, sec, sum(is_new) OVER
          |  (PARTITION BY user_id ORDER BY sec ROWS UNBOUNDED PRECEDING) AS sess
          |  FROM x)
          |SELECT user_id, min(sec) AS sess_start, max(sec) + 1800 AS sess_end,
          |  count(*) AS n
          |FROM s GROUP BY user_id, sess ORDER BY user_id, sess_start""".stripMargin,

      "st06_stream_dedup" ->
        """SELECT DISTINCT user_id, event_type FROM events
          |ORDER BY user_id, event_type""".stripMargin,

      // hour-bucketed keys: duplicates are always within the watermark
      // delay of their key's first occurrence, so the bounded-state
      // dedup emits exactly the distinct key set
      "st11_stream_dedup_bounded" ->
        """SELECT DISTINCT user_id, event_type,
          |  (epoch_ms(ts) // 1000 // 3600) * 3600 AS hour_start
          |FROM events ORDER BY user_id, event_type, hour_start""".stripMargin,

      // identical to st02's oracle: the TTL eviction branch emits the
      // same final state the last update emitted, and the memory-table
      // re-aggregate absorbs either path
      "st12_stream_user_state_ttl" ->
        """SELECT user_id, max(value) AS max_value, count(*) AS n_events
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

      // st05's gap sessionization filtered to the watermark-closed
      // window: only sessions whose end precedes max(ts) - 2h emit in
      // append mode (trailing sessions stay in state)
      "st13_stream_sessions_append" ->
        """WITH e AS (SELECT user_id, epoch_ms(ts) // 1000 AS sec FROM events),
          |x AS (SELECT user_id, sec,
          |  CASE WHEN lag(sec) OVER w IS NULL
          |         OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)),
          |s AS (SELECT user_id, sec, sum(is_new) OVER
          |  (PARTITION BY user_id ORDER BY sec ROWS UNBOUNDED PRECEDING) AS sess
          |  FROM x),
          |g AS (SELECT user_id, min(sec) AS sess_start, max(sec) + 1800 AS sess_end,
          |  count(*) AS n FROM s GROUP BY user_id, sess)
          |SELECT user_id, sess_start, sess_end, n FROM g
          |WHERE sess_end <= (SELECT max(sec) FROM e) - 7200
          |ORDER BY user_id, sess_start""".stripMargin,

      // greedy (non-transitive) canonical: min earlier id sharing >= 1
      // of the 4 8-bit simhash bands — the batch spelling of the
      // streaming band-state lookup
      "st07_stream_neardup" ->
        s"""WITH t AS (SELECT doc_id AS id,
           |  list_transform($tk, tok -> ${rollSql("tok")}) AS hashes FROM documents),
           |sim AS (SELECT id, cast(list_aggregate(list_transform(range(0, 32), b ->
           |  CASE WHEN 2 * len(list_filter(hashes,
           |         h -> cast(floor(h / pow(2.0, b)) as bigint) % 2 = 1)) > len(hashes)
           |  THEN cast(pow(2.0, b) as bigint) ELSE 0 END), 'sum') as bigint) AS simhash
           |  FROM t),
           |bands AS (
           |  SELECT id, 0 AS band_no, (simhash >> 0) & 255 AS sig FROM sim
           |  UNION ALL SELECT id, 1, (simhash >> 8) & 255 FROM sim
           |  UNION ALL SELECT id, 2, (simhash >> 16) & 255 FROM sim
           |  UNION ALL SELECT id, 3, (simhash >> 24) & 255 FROM sim),
           |pr AS (SELECT b1.id, min(b2.id) AS dup_of FROM bands b1 JOIN bands b2
           |  ON b1.band_no = b2.band_no AND b1.sig = b2.sig AND b2.id < b1.id
           |  GROUP BY b1.id)
           |SELECT s.id AS doc_id, coalesce(p.dup_of, s.id) AS canonical_id,
           |  p.dup_of IS NULL AS is_first
           |FROM sim s LEFT JOIN pr p ON p.id = s.id ORDER BY doc_id""".stripMargin)
    // st08 is the STREAMING spelling of d09's index probe: stateless
    // stream-static join against the same frozen index, so the batch
    // oracle is d09's verbatim — any drift between the streaming and
    // batch paths fails the hash compare.
    // s13 searches the build-once PQ code asset with the same
    // deterministic codebook and ADC math as s12's inline encode —
    // s12's oracle checks the asset path verbatim
    m + ("st08_stream_index_probe" -> m("d09_incremental_neardup")) +
      // stream prints = batch prints by the kernel/builder contract,
      // so the m11 vote readout is bit-identical
      ("st40_stream_constellation" -> m("m11_constellation_match")) +
      // stateless per-row fold = batch exploded aggregate, same weights
      ("st41_stream_quality_gate" -> m("t45_quality_classifier")) +
      // shared batch/stream counts kernel -> t32's training-replay
      // oracle checks the stream verbatim
      ("st42_stream_bpe_tokens" -> m("t32_bpe_trained")) +
      // complete-mode cell maintenance = batch hash aggregate cell for
      // cell, readout shared — q75's oracle checks the stream verbatim
      ("st45_stream_seasonality" ->
        graft.queries.Relational.oracles("q75_seasonality")) +
      // complete-mode (source, token) cells = t49's aggregate cell for
      // cell, same exact-integer DP readout — oracle verbatim
      ("st47_stream_dispersion" -> m("t49_term_dispersion")) +
      ("s13_pq_index_probe" -> m("s12_pq_topk")) +
      // the graph search over the build-once asset must equal the
      // inline build row for row — s35's oracle checks it verbatim
      ("s37_graph_index_probe" -> m("s35_graph_ann")) +
      // SQL-authored spelling of the same eps join — rewrite-preserving
      ("s14_sql_eps_degree" -> m("s03_eps_degree")) +
      // SQL-authored spelling of the MinHash-LSH pipeline — the Scala
      // operator and the graft_minhash_sig SQL text must agree exactly
      ("d11_sql_lsh_pairs" -> m("d04_lsh_pairs")) +
      // SQL-authored exact kNN through graft_cosine — shares s01's oracle
      ("s17_sql_knn" -> m("s01_knn_bruteforce")) +
      // SQL-authored curation pipeline — shares t17's oracle verbatim
      ("t29_sql_curation" -> m("t17_curation_pipeline")) +
      // stream-maintained HLL registers equal the batch build
      // (merge-by-max) — shares t30's oracle verbatim
      ("st21_stream_hll" -> m("t30_hll_distinct")) +
      // stateless stream = batch: streaming DSIR scoring shares t22's
      // exact-integer arithmetic and therefore its oracle verbatim
      ("st15_stream_dsir" -> m("t22_dsir_importance")) +
      // stateless stream = batch: streaming LM scoring replays t23's
      // integer surprisal arithmetic and therefore its oracle verbatim
      ("st16_stream_lm_score" -> m("t23_lm_perplexity")) +
      // the stream-maintained (source, token) counts equal the batch
      // aggregate cell for cell, so t53's KL oracle verifies verbatim
      ("st51_stream_source_kl" -> m("t53_source_kl")) +
      // the Bloom gate admits every true match and the exact join
      // kills every false positive — output == d10 row for row
      ("d25_bloom_decontaminate" -> m("d10_decontaminate")) +
      // stateless per-row sync kernel: stream == batch row for row
      ("st52_stream_av_sync" -> m("m16_av_sync")) +
      // stateless per-row routing expression: stream == batch cell for
      // cell, so t55's rendezvous oracle verifies st56 verbatim
      ("st56_stream_shard_router" -> m("t55_rendezvous_shards")) +
      // the one-pass ingest kernel replays m17's two segmentations and
      // the clipped-overlap sum exactly — oracle verbatim
      ("st57_stream_speech_coverage" -> m("m17_speech_coverage")) +
      // bounded-state streaming top-k emits a superset of the batch
      // answer; the final rank replays t24's key — oracle verbatim
      ("st17_stream_weighted_sample" -> m("t24_weighted_sample")) +
      // the stream-maintained sketch equals the batch sketch cell for
      // cell, so t26's selection oracle verifies st18 verbatim
      ("st18_stream_cm_sketch" -> m("t26_cm_heavy_hitters")) +
      // the last-event state machine emits exactly the same-session
      // consecutive pairs q54's window derives — oracle verbatim
      // q45's rank-bound readout applied to the streaming GK state:
      // exact_v is value-replayable (exact percentile of the integral
      // metric), within_bound is the sketch guarantee both engines
      // agree is TRUE without replaying the merge order
      ("st23_stream_quantiles" ->
        Seq(0.5, 0.9, 0.99).map(f =>
          s"""SELECT event_type, cast($f as double) AS frac,
             |  quantile_cont(cast(floor(value) as bigint), $f) AS exact_v,
             |  true AS within_bound FROM events GROUP BY 1""".stripMargin)
          .mkString("", "\nUNION ALL\n", "\nORDER BY event_type, frac")) +
      ("st29_stream_transitions" ->
        graft.queries.Relational.oracles("q54_transitions")) +
      ("st31_stream_funnel" ->
        graft.queries.Relational.oracles("q40_funnel")) +
      ("st32_stream_decay" ->
        graft.queries.Relational.oracles("q58_decay_score")) +
      ("st33_stream_attribution" ->
        graft.queries.Relational.oracles("q60_attribution")) +
      // the replayed document stream reproduces the batch (source,
      // length) count table exactly — t42's KS oracle verbatim
      ("st38_stream_ks" -> m("t42_ks_drift")) +
      // the chain-suppression state machine replayed as a per-(user,
      // type) recursive CTE walking rows in (s, event_id) order
      ("st39_stream_throttle" ->
        """WITH RECURSIVE e AS (SELECT user_id, event_type,
          |    epoch_ms(ts) // 1000 AS s, event_id FROM events),
          |r AS (SELECT user_id, event_type, s,
          |    row_number() OVER (PARTITION BY user_id, event_type
          |      ORDER BY s, event_id) AS rn
          |  FROM e),
          |tot AS (SELECT user_id, event_type, max(rn) AS n_seen
          |  FROM r GROUP BY 1, 2),
          |k AS (
          |  SELECT user_id, event_type, rn, s AS last_kept,
          |    cast(1 as bigint) AS n_kept
          |  FROM r WHERE rn = 1
          |  UNION ALL
          |  SELECT r.user_id, r.event_type, r.rn,
          |    CASE WHEN r.s - k.last_kept >= 300 THEN r.s
          |         ELSE k.last_kept END,
          |    k.n_kept + CASE WHEN r.s - k.last_kept >= 300
          |      THEN 1 ELSE 0 END
          |  FROM k JOIN r ON r.user_id = k.user_id
          |    AND r.event_type = k.event_type AND r.rn = k.rn + 1),
          |fin AS (SELECT t.user_id, t.event_type, t.n_seen, k.n_kept
          |  FROM tot t JOIN k ON k.user_id = t.user_id
          |    AND k.event_type = t.event_type AND k.rn = t.n_seen)
          |SELECT event_type, count(*) AS n_keys,
          |  cast(sum(n_seen) as bigint) AS n_seen,
          |  cast(sum(n_kept) as bigint) AS n_kept
          |FROM fin GROUP BY 1 ORDER BY event_type""".stripMargin) +
      ("st36_stream_ab_test" ->
        graft.queries.Relational.oracles("q65_ab_test")) +
      // q63's exact-moment OLS restricted to the trailing 31-day
      // window anchored at the corpus max day
      ("st37_stream_trend" ->
        """WITH daily AS (SELECT (epoch_ms(ts) // 1000) // 86400 AS day,
          |    event_type, count(*) AS y FROM events GROUP BY 1, 2),
          |r AS (SELECT max(day) AS dmax FROM daily),
          |wnd AS (SELECT event_type, day - (dmax - 30) AS x, y
          |  FROM daily CROSS JOIN r WHERE day >= dmax - 30),
          |m AS (SELECT event_type, count(*) AS n_days,
          |    cast(sum(x) as bigint) AS sx,
          |    cast(sum(x * x) as bigint) AS sxx,
          |    cast(sum(y) as bigint) AS sy,
          |    cast(sum(x * y) as bigint) AS sxy
          |  FROM wnd GROUP BY 1)
          |SELECT event_type, n_days, sy AS n_events,
          |  round(cast(n_days * sxy - sx * sy as double)
          |    / cast(NULLIF(n_days * sxx - sx * sx, 0) as double), 6)
          |    AS slope,
          |  round(cast(sy * (n_days * sxx - sx * sx)
          |      - (n_days * sxy - sx * sy) * sx as double)
          |    / cast(NULLIF(n_days * (n_days * sxx - sx * sx), 0)
          |      as double), 6)
          |    AS intercept
          |FROM m ORDER BY event_type""".stripMargin) +
      // q26's set-semantics Bloom replay over the streamed user set
      ("st34_stream_bloom" ->
        """WITH u AS (SELECT DISTINCT user_id FROM events),
          |i3 AS (SELECT unnest(range(0, 3)) AS i),
          |pos AS (SELECT DISTINCT
          |    ((2*i + 1) * (user_id % 1024) + i*i + 7) % 1024 AS p
          |  FROM u, i3),
          |probe AS (SELECT c_custkey,
          |    ((2*i + 1) * (c_custkey % 1024) + i*i + 7) % 1024 AS q
          |  FROM customer, i3)
          |SELECT c.c_custkey,
          |  (SELECT count(*) FROM probe pr
          |   WHERE pr.c_custkey = c.c_custkey
          |     AND pr.q NOT IN (SELECT p FROM pos)) = 0 AS maybe_active,
          |  EXISTS (SELECT 1 FROM u WHERE u.user_id = c.c_custkey)
          |    AS exact_active
          |FROM customer c ORDER BY c_custkey""".stripMargin) +
      // t33's deterministic KMV replay, per source: bottom-64 distinct
      // spread hashes; estimate = (k-1)·P / h_k past saturation
      ("st35_stream_kmv" ->
        s"""WITH ${shingleSql("SELECT doc_id, text FROM documents")},
           |sp AS (SELECT DISTINCT d.source AS src,
           |    (736238393 * (sh.sh % $P) + 12345) % $P AS h
           |  FROM sh JOIN documents d ON d.doc_id = sh.id),
           |sk AS (SELECT src, (list_sort(list(DISTINCT h)))[1:64] AS kv,
           |    count(DISTINCT h) AS nd
           |  FROM sp GROUP BY src)
           |SELECT src, nd,
           |  round(CASE WHEN len(kv) < 64 THEN cast(len(kv) as double)
           |    ELSE 63.0 * 1000000007.0 / cast(kv[64] as double) END, 6)
           |    AS est
           |FROM sk ORDER BY src""".stripMargin) +
      // merge-closed stats replay directly; the HLL readout is t30's
      // exact-integer numerator + textually-fixed double expr, over
      // the t33 spread of user_id
      ("st30_stream_profile" -> {
        val est =
          """cast(0.7213 as double) / (cast(1.0 as double)
            |  + cast(1.079 as double) / cast(1024 as double))
            |  * cast(1024 as double) * cast(1024 as double)
            |  * cast(2097152 as double) / cast(num as double)""".stripMargin
        s"""WITH b AS (SELECT count(*) AS n, count(value) AS nn_value,
           |    min(value) AS min_value, max(value) AS max_value,
           |    min(epoch_ms(ts) // 1000) AS min_sec,
           |    max(epoch_ms(ts) // 1000) AS max_sec,
           |    min(user_id) AS min_uid, max(user_id) AS max_uid FROM events),
           |h AS (SELECT (736238393 * (user_id % 1000000007) + 12345)
           |    % 1000000007 AS h FROM events),
           |r0 AS (SELECT h % 1024 AS bucket, h // 1024 AS w FROM h),
           |r1 AS (SELECT bucket,
           |    max(CASE WHEN w = 0 THEN 21 ELSE 21 - length(bin(w)) END) AS rho
           |  FROM r0 GROUP BY 1),
           |sm AS (SELECT count(*) AS present,
           |    cast(sum(cast((1::BIGINT << (21 - rho)) as bigint)) as bigint)
           |      AS num_present FROM r1),
           |e AS (SELECT count(DISTINCT h) AS n_exact FROM h),
           |nn AS (SELECT sm.present, e.n_exact,
           |    sm.num_present + (1024 - sm.present) * 2097152 AS num FROM sm, e),
           |u AS (
           |  SELECT 'n_rows' AS stat, n AS ival,
           |    cast(NULL as double) AS dval FROM b
           |  UNION ALL SELECT 'sec_max', max_sec, NULL FROM b
           |  UNION ALL SELECT 'sec_min', min_sec, NULL FROM b
           |  UNION ALL SELECT 'uid_max', max_uid, NULL FROM b
           |  UNION ALL SELECT 'uid_min', min_uid, NULL FROM b
           |  UNION ALL SELECT 'uid_ndv_est', cast(NULL as bigint),
           |    round($est, 6) FROM nn
           |  UNION ALL SELECT 'uid_ndv_exact', n_exact, NULL FROM nn
           |  UNION ALL SELECT 'value_max', cast(NULL as bigint), max_value FROM b
           |  UNION ALL SELECT 'value_min', cast(NULL as bigint), min_value FROM b
           |  UNION ALL SELECT 'value_nulls', n - nn_value, NULL FROM b)
           |SELECT stat, cast(ival as bigint) AS ival, dval
           |FROM u ORDER BY stat""".stripMargin
      })
  }
}
