package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import ColFns._

/** Similarity search over an embedding table
  * `embeddings(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)`.
  *
  * Three tiers, mirroring how an ANN stack scales:
  *  - brute-force cosine top-k: the correctness baseline. The (small) query
  *    set is broadcast, so the big side never shuffles — at 100 TB this is
  *    one map-side pass per query batch.
  *  - IVF-style cell-pruned top-k: candidates restricted to the query's
  *    coarse cell (the `label` column plays the IVF centroid-assignment
  *    role); an equi-join on the cell id replaces the cross product.
  *  - random-hyperplane LSH buckets: 8 deterministic md5-derived planes;
  *    sign-bit bucket ids computed as a narrow projection — bucket-join
  *    gives the candidate set at scale.
  *
  * Near-duplicate detection (embedding-cosine) = pairs over a cosine
  * threshold inside capped cell blocks ([[cellKey]]), through the same
  * block → purge → pair chain as every dedup family ([[Dedup.blockPairs]]).
  * All dot products are sequential double folds
  * ([[ColFns.dot]]) so the DuckDB oracles are bit-exact; doubles are
  * emitted floor-scaled to micro units.
  */
object Similarity {

  val Dim = 64
  val NumPlanes = 8

  /** Deterministic LSH hyperplanes in [-1, 1): plane p, component i from
    * md5("p,i") — reproducible in SQL, no RNG, no stored model artifact.
    */
  lazy val planes: IndexedSeq[IndexedSeq[Double]] =
    (0 until NumPlanes).map(p =>
      (1 to Dim).map(i => graft.functions.H32Expression.compute(s"$p,$i") / 2147483648.0 - 1.0))

  /** Rows + precomputed L2 norm: sqrt(dot(v,v)) once per vector instead of
    * per pair (the pair join evaluates only one dot; sqrt of the same fold
    * gives bit-identical cosines, so the oracle SQL is unaffected).
    */
  private def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))

  /** Sign-bit LSH bucket id of an embedding column (shared by lshBuckets and
    * the hot-cell block key, [[cellKey]]).
    */
  private def bucketCol(embedding: Column): Column =
    (0 until NumPlanes).map { p =>
      val d = dot(embedding, typedlit(planes(p)))
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** DuckDB mirror of [[bucketCol]] over an embedding SQL fragment, as BIGINT. */
  private def sqlBucket(embedding: String): String = {
    val bits = (0 until NumPlanes).map { p =>
      val d = s"list_reduce(list_transform(generate_series(1,$Dim), " +
        s"i -> CAST($embedding[i] AS DOUBLE) * (${planes(p).mkString("[", ",", "]")})[i]), (x,y) -> x+y)"
      s"(CASE WHEN ($d) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"CAST($bits AS BIGINT)"
  }

  /** The cosine family's block key: `L:<cell>` for a cell of at most
    * `cellCap` members, else `H:<cell>:<sign bits>` (an expected ~256x cut
    * of a hot cell's pairs, missing pairs that straddle a hyperplane).
    */
  private def cellKey(cell: Column, cellN: Column, embedding: Column, cellCap: Int): Column =
    when(cellN > cellCap, concat_ws(":", lit("H"), cell, bucketCol(embedding)))
      .otherwise(concat_ws(":", lit("L"), cell))

  /** DuckDB mirror of [[cellKey]]; the embedding column is `embedding`. */
  private def sqlCellKey(cell: String, cellN: String, cellCap: Int): String =
    s"CASE WHEN $cellN > $cellCap THEN 'H:' || $cell || ':' || ${sqlBucket("embedding")} " +
      s"ELSE 'L:' || $cell END"

  /** Cosine pairs of `emb(vec_id, embedding, <cell>)` through the
    * [[Dedup.blockPairs]] chain at `cap = cellCap`, scored by `graft_dot`
    * over precomputed norms; cell sizes are a broadcast partial aggregate.
    */
  private def cosinePairsUnordered(emb: DataFrame, cell: String, thresh: Double,
                                   cellCap: Int): DataFrame = {
    val sizes = broadcast(emb.groupBy(col(cell)).agg(count(lit(1)).as("cell_n")))
    val blocks = withNorm(emb).join(sizes, cell)
      .select(col("vec_id").as("doc_id"), col("embedding"), col("nrm"),
        cellKey(col(cell), col("cell_n"), col("embedding"), cellCap).as("bkey"))
    Dedup.blockPairs(Dedup.capBuckets(blocks, cellCap), Seq("embedding", "nrm"))
      .select(col("id_a"), col("id_b"),
        (dot(col("embedding_a"), col("embedding_b")) / (col("nrm_a") * col("nrm_b"))).as("cos"))
      .filter(col("cos") >= thresh)
  }

  /** DuckDB mirror of [[cosinePairsUnordered]], ending in `pairs(id_a,
    * id_b, cos)`. Spark's extra tie-break key `nrm` follows from `embedding`.
    */
  private def sqlCosinePairCtes(src: String, cell: String, thresh: Double,
                                cellCap: Int): String =
    s"""sz AS (SELECT $cell, count(*) AS cell_n FROM $src GROUP BY $cell),
       |blocks AS (SELECT e.vec_id AS doc_id, e.embedding,
       |    ${sqlCellKey(s"e.$cell", "sz.cell_n", cellCap)} AS bkey
       |  FROM $src e JOIN sz ON e.$cell = sz.$cell),
       |capped AS ${Dedup.sqlCapBuckets("blocks", "doc_id, embedding", cellCap)},
       |pairs AS (SELECT * FROM (
       |    SELECT id_a, id_b, ${sqlCosine("embedding_a", "embedding_b", Dim)} AS cos
       |    FROM (${Dedup.sqlBlockPairs("capped", Seq("embedding"))}))
       |  WHERE cos >= $thresh)""".stripMargin

  /** Embedding near-dup: pairs with cosine >= thresh inside each capped
    * [[cellKey]] block of the `label` cell ([[cosinePairsUnordered]]).
    */
  def cosineNearDupPairs(
      emb: DataFrame,
      thresh: Double = 0.3,
      cellCap: Int = 10000
  ): DataFrame =
    cosinePairsUnordered(emb, "label", thresh, cellCap)
      .select(col("id_a"), col("id_b"), micro(col("cos")).as("cos_micro"))
      .orderBy("id_a", "id_b")

  def cosineNearDupPairsSql(table: String, thresh: Double = 0.3, cellCap: Int = 10000): String =
    s"""WITH ${sqlCosinePairCtes(table, "label", thresh, cellCap)}
       |SELECT id_a, id_b, ${sqlMicro("cos")} AS cos_micro FROM pairs
       |ORDER BY id_a, id_b""".stripMargin

  /** Embedding near-dup CLUSTERS: connected components over the
    * [[cosineNearDupPairs]] graph (the similarity-family analogue of
    * [[Dedup.dedupComponents]] — one canonical vector per duplicate
    * cluster). Same min-label propagation core; same capped blocks.
    */
  def embedComponents(
      emb: DataFrame,
      thresh: Double = 0.3,
      cellCap: Int = 10000
  ): DataFrame = {
    val pairs = cosinePairsUnordered(emb, "label", thresh, cellCap)
      .select(col("id_a"), col("id_b"))
    Dedup.componentsFrom(emb.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("component"))
  }

  def embedComponentsSql(table: String, thresh: Double = 0.3, cellCap: Int = 10000): String =
    s"""WITH RECURSIVE ${sqlCosinePairCtes(table, "label", thresh, cellCap)},
       |${Dedup.sqlReachCtes("pairs", "vec_id", table)}
       |SELECT node AS vec_id, min(lbl) AS component
       |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin

  /** Skew-safe per-query top-k: a single `row_number() OVER (PARTITION BY
    * q_id)` would shuffle the ENTIRE corpus × nQueries into nQueries
    * tasks, so this is the staged top-k ([[Ranks.topKPerGroup]]) over
    * candidate sub-buckets, exactly the single window the DuckDB oracles
    * compute.
    */
  private def topK(joined: DataFrame, k: Int): DataFrame =
    Ranks.topKPerGroup(joined, col("q_id"), col("n_id"),
        Seq(col("cos").desc, col("n_id").asc), k, "rank")
      .select(col("q_id"), col("n_id"), col("rank"), micro(col("cos")).as("cos_micro"))
      .orderBy("q_id", "rank")

  /** Brute-force cosine top-k for a small broadcast query set. */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val q = broadcast(withNorm(emb.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
    val joined = withNorm(emb).crossJoin(q)
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
    topK(joined, k)
  }

  def bruteForceTopKSql(table: String, nQueries: Int = 8, k: Int = 5): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM $table WHERE vec_id < $nQueries),
       |s AS (SELECT q.q_id, e.vec_id AS n_id,
       |    ${sqlCosine("q.q_emb", "e.embedding", Dim)} AS cos
       |  FROM $table e CROSS JOIN q),
       |r AS (SELECT q_id, n_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
       |  FROM s)
       |SELECT q_id, n_id, CAST(rank AS INT) AS rank, ${sqlMicro("cos")} AS cos_micro
       |FROM r WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** IVF-style top-k: search only the query's coarse cell (label). */
  def ivfTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 3): DataFrame = {
    val q = broadcast(withNorm(emb.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"), col("nrm").as("q_nrm")))
    val joined = withNorm(emb).join(q, col("label") === col("q_label"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
    topK(joined, k)
  }

  def ivfTopKSql(table: String, nQueries: Int = 8, k: Int = 3): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
       |    FROM $table WHERE vec_id < $nQueries),
       |s AS (SELECT q.q_id, e.vec_id AS n_id,
       |    ${sqlCosine("q.q_emb", "e.embedding", Dim)} AS cos
       |  FROM $table e JOIN q ON e.label = q.q_label),
       |r AS (SELECT q_id, n_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
       |  FROM s)
       |SELECT q_id, n_id, CAST(rank AS INT) AS rank, ${sqlMicro("cos")} AS cos_micro
       |FROM r WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** Recall@k of the IVF cell-pruned search against the brute-force ground
    * truth — the measurement a pipeline needs before trusting an ANN index.
    * One row per query: |ivf_topk intersect brute_topk| / k in micro units.
    */
  def ivfRecall(emb: DataFrame, nQueries: Int = 8, k: Int = 3): DataFrame =
    recallVsTruth(
      bruteForceTopK(emb, nQueries, k),
      ivfTopK(emb, nQueries, k), k)

  /** Recall@k of an approximate top-k frame against a ground-truth top-k
    * frame (both `(q_id, n_id, ...)`) — the shared audit tail of
    * [[ivfRecall]] and [[prefixRecall]]. Both inputs are tiny
    * (nQueries x k rows), so the semi-join and count are driver-free
    * noise regardless of corpus size.
    */
  private def recallVsTruth(truthK: DataFrame, approxK: DataFrame, k: Int): DataFrame = {
    val brute = truthK.select(col("q_id"), col("n_id"))
    val approx = approxK.select(col("q_id").as("iq"), col("n_id").as("in_id"))
    val hits = brute
      .join(approx, col("q_id") === col("iq") && col("n_id") === col("in_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    brute.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        micro(coalesce(col("hits"), lit(0L)).cast("double") / lit(k.toDouble)).as("recall_micro"))
      .orderBy("q_id")
  }

  def ivfRecallSql(table: String, nQueries: Int = 8, k: Int = 3): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
       |    FROM $table WHERE vec_id < $nQueries),
       |bs AS (SELECT q.q_id, e.vec_id AS n_id,
       |    ${sqlCosine("q.q_emb", "e.embedding", Dim)} AS cos
       |  FROM $table e CROSS JOIN q),
       |br AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank FROM bs)
       |  WHERE rank <= $k),
       |is0 AS (SELECT q.q_id, e.vec_id AS n_id,
       |    ${sqlCosine("q.q_emb", "e.embedding", Dim)} AS cos
       |  FROM $table e JOIN q ON e.label = q.q_label),
       |iv AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank FROM is0)
       |  WHERE rank <= $k),
       |h AS (SELECT br.q_id, count(*) AS hits FROM br
       |  WHERE EXISTS (SELECT 1 FROM iv WHERE iv.q_id = br.q_id AND iv.n_id = br.n_id)
       |  GROUP BY br.q_id)
       |SELECT qq.q_id AS q_id, ${sqlMicro(s"CAST(coalesce(h.hits, 0) AS DOUBLE) / $k.0")} AS recall_micro
       |FROM (SELECT DISTINCT q_id FROM br) qq LEFT JOIN h ON qq.q_id = h.q_id
       |ORDER BY qq.q_id""".stripMargin

  /** Recall@k of PREFIX-dimension search against the full-dimension truth —
    * the audit an embedding team runs before truncating stored dimensions
    * (Matryoshka-style nested embeddings: if the first `prefixDim`
    * components carry the ranking, storage and bandwidth drop by
    * Dim/prefixDim across the whole ANN stack). Both legs are the
    * broadcast-query brute-force scan ([[bruteForceTopK]]): map-only over
    * the corpus, no index to build, so the audit itself is cheap enough to
    * run per candidate prefix length. The prefix leg slices BOTH sides to
    * the first `prefixDim` components; cosines renormalize over the slice
    * (a prefix is only usable if it ranks correctly under its OWN norm —
    * comparing un-renormalized prefix dots would conflate ranking loss
    * with scale loss). Output: one row per query, recall in micro units.
    */
  def prefixRecall(emb: DataFrame, prefixDim: Int = 16,
                   nQueries: Int = 8, k: Int = 5): DataFrame = {
    require(prefixDim >= 1 && prefixDim <= Dim, s"prefixDim in [1, $Dim]")
    val sliced = emb.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDim).as("embedding"))
    recallVsTruth(
      bruteForceTopK(emb, nQueries, k),
      bruteForceTopK(sliced, nQueries, k), k)
  }

  /** DuckDB mirror of [[prefixRecall]]: the prefix leg is the same
    * sequential-fold cosine with the generate_series bound at `prefixDim`
    * instead of `Dim` — identical accumulation order to the sliced Spark
    * arrays, so cosines (and therefore ranks and recall) are bit-exact.
    */
  def prefixRecallSql(table: String, prefixDim: Int = 16,
                      nQueries: Int = 8, k: Int = 5): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM $table WHERE vec_id < $nQueries),
       |bs AS (SELECT q.q_id, e.vec_id AS n_id,
       |    ${sqlCosine("q.q_emb", "e.embedding", Dim)} AS cos
       |  FROM $table e CROSS JOIN q),
       |br AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank FROM bs)
       |  WHERE rank <= $k),
       |ps AS (SELECT q.q_id, e.vec_id AS n_id,
       |    ${sqlCosine("q.q_emb", "e.embedding", prefixDim)} AS cos
       |  FROM $table e CROSS JOIN q),
       |pr AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank FROM ps)
       |  WHERE rank <= $k),
       |h AS (SELECT br.q_id, count(*) AS hits FROM br
       |  WHERE EXISTS (SELECT 1 FROM pr WHERE pr.q_id = br.q_id AND pr.n_id = br.n_id)
       |  GROUP BY br.q_id)
       |SELECT qq.q_id AS q_id, ${sqlMicro(s"CAST(coalesce(h.hits, 0) AS DOUBLE) / $k.0")} AS recall_micro
       |FROM (SELECT DISTINCT q_id FROM br) qq LEFT JOIN h ON qq.q_id = h.q_id
       |ORDER BY qq.q_id""".stripMargin

  /** Cross-lingual bitext mining (the CCMatrix/LASER-style shape that
    * produces MT training pairs): every source-language document is
    * matched to its best target-language neighbor in a shared embedding
    * space and accepted only when the MARGIN over the runner-up clears a
    * threshold — margin filtering is what separates real translation
    * pairs from hubness artifacts. Language comes from the documents
    * table (vec_id == doc_id); the candidate join is CELL-PRUNED on the
    * coarse label (the s3/s8 IVF discipline — src x tgt within a cell,
    * never a full cross-lingual cross product), top-2 per query is the
    * staged [[topK]] group-limit, and the margin is a difference of the
    * already-floored micro cosines, so both engines subtract identical
    * integers. Queries with no in-cell target candidate are out of the
    * mining contract (no match to rank). Output: one row per src doc with
    * its best match, cosine, margin and accept flag.
    */
  def bitextMine(emb: DataFrame, docs: DataFrame, srcLang: String = "en",
                 tgtLang: String = "de", marginMicro: Long = 20000L): DataFrame = {
    val withLang = emb.join(
      docs.select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
    val q = withNorm(withLang.filter(col("lang") === srcLang))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"), col("nrm").as("q_nrm"))
    val joined = withNorm(withLang.filter(col("lang") === tgtLang))
      .join(q, col("label") === col("q_label"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
    topK(joined, k = 2)
      .groupBy(col("q_id"))
      .agg(
        max(when(col("rank") === 1, col("n_id"))).as("match_id"),
        max(when(col("rank") === 1, col("cos_micro"))).as("cos_micro"),
        coalesce(max(when(col("rank") === 2, col("cos_micro"))), lit(-1000000L))
          .as("cos2_micro"))
      .select(col("q_id"), col("match_id"), col("cos_micro"),
        (col("cos_micro") - col("cos2_micro")).as("margin_micro"),
        (col("cos_micro") - col("cos2_micro") >= marginMicro)
          .cast("int").as("accept"))
      .orderBy(col("q_id"))
  }

  /** DuckDB mirror of [[bitextMine]] — single-window top-2, same floored
    * micro subtraction, same runner-up sentinel for single-candidate
    * cells.
    */
  def bitextMineSql(table: String, docsTable: String = "documents",
                    srcLang: String = "en", tgtLang: String = "de",
                    marginMicro: Long = 20000L): String =
    s"""WITH e AS (SELECT v.vec_id, v.embedding, v.label, d.lang
       |  FROM $table v JOIN $docsTable d ON d.doc_id = v.vec_id),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
       |  FROM e WHERE lang = '$srcLang'),
       |s AS (SELECT q.q_id, t.vec_id AS n_id,
       |    ${sqlCosine("q.q_emb", "t.embedding", Dim)} AS cos
       |  FROM e t JOIN q ON t.label = q.q_label WHERE t.lang = '$tgtLang'),
       |r AS (SELECT q_id, n_id, ${sqlMicro("cos")} AS cos_micro,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
       |  FROM s),
       |p AS (SELECT q_id,
       |    max(CASE WHEN rank = 1 THEN n_id END) AS match_id,
       |    max(CASE WHEN rank = 1 THEN cos_micro END) AS cos_micro,
       |    COALESCE(max(CASE WHEN rank = 2 THEN cos_micro END), -1000000) AS cos2_micro
       |  FROM r WHERE rank <= 2 GROUP BY q_id)
       |SELECT q_id, match_id, cos_micro,
       |  CAST(cos_micro - cos2_micro AS BIGINT) AS margin_micro,
       |  CAST(CASE WHEN cos_micro - cos2_micro >= $marginMicro THEN 1 ELSE 0 END AS INT) AS accept
       |FROM p ORDER BY q_id""".stripMargin

  /** Diverse top-k by maximal marginal relevance (MMR) — the selection a
    * retrieval/serving layer (or a diverse few-shot sampler) runs AFTER
    * ANN: greedily pick k items maximizing
    * `lambda*relevance - (1-lambda)*max-similarity-to-already-picked`, so
    * near-duplicate hits don't crowd the result. Two-tier scale shape:
    * the expensive part is the candidate POOL, which is the already-gated
    * staged ANN scan bounded to `poolK` rows (TakeOrderedAndProject — at
    * 10^12 vectors the pool, not the greedy loop, touches the corpus);
    * the k greedy rounds then run declaratively over the bounded pool —
    * each round one anti-join against the picked set, one
    * broadcast-nested-loop penalty max, one TakeOrdered top-1 (the t12
    * winner idiom, no driver collect), localCheckpoint per round.
    *
    * Exactness: relevances and penalties are micro-floored BEFORE the MMR
    * arithmetic, and the score is the all-integer
    * `(70*(rel+1e6) + 30*(1e6-pen)) div 100` — shifted to stay
    * non-negative because Spark's `div` truncates toward zero while
    * DuckDB's `//` floors, which would diverge below zero. Rank-1 uses
    * the pen = -1e6 sentinel (nothing picked yet) through the SAME
    * formula.
    */
  def mmrTopK(emb: DataFrame, qId: Long = 0L, poolK: Int = 16, k: Int = 5,
              lambdaPct: Int = 70): DataFrame = {
    require(k >= 1 && poolK >= k, "need poolK >= k >= 1")
    val lam = lambdaPct.toLong
    val q = broadcast(withNorm(emb.filter(col("vec_id") === qId))
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
    val pool = withNorm(emb.filter(col("vec_id") =!= qId)).crossJoin(q)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        micro(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(poolK)
      .localCheckpoint()
    def mmrCol(pen: org.apache.spark.sql.Column) =
      expr(s"$lam * (rel + 1000000L)") + (lit(100L - lam) * (lit(1000000L) - pen))
    var picked = pool
      .select(col("vec_id"), col("embedding"), col("nrm"), col("rel"),
        (mmrCol(lit(-1000000L)) / lit(100)).cast("long").as("mmr"),
        lit(1).as("rank"))
      .orderBy(col("mmr").desc, col("vec_id")).limit(1)
      .localCheckpoint()
    var r = 2
    while (r <= k) {
      val pEmb = broadcast(picked.select(col("embedding").as("p_emb"),
        col("nrm").as("p_nrm")))
      val pens = pool
        .join(picked.select(col("vec_id").as("pid")),
          col("vec_id") === col("pid"), "left_anti")
        .crossJoin(pEmb)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("rel"),
          micro(dot(col("embedding"), col("p_emb")) / (col("nrm") * col("p_nrm")))
            .as("sim"))
        .groupBy(col("vec_id"), col("rel"))
        .agg(first(col("embedding")).as("embedding"), first(col("nrm")).as("nrm"),
          max(col("sim")).as("pen"))
      val winner = pens
        .select(col("vec_id"), col("embedding"), col("nrm"), col("rel"),
          (mmrCol(col("pen")) / lit(100)).cast("long").as("mmr"), lit(r).as("rank"))
        .orderBy(col("mmr").desc, col("vec_id")).limit(1)
      picked = picked.union(winner).localCheckpoint()
      r += 1
    }
    picked.select(col("rank"), col("vec_id").as("n_id"),
      col("rel").as("rel_micro"), col("mmr").as("mmr_micro"))
      .orderBy(col("rank"))
  }

  /** DuckDB mirror of [[mmrTopK]]: the greedy recurrence unrolled as k
    * CTE rounds (argmax LIMIT 1 each), same shifted integer score.
    */
  def mmrTopKSql(table: String, qId: Long = 0L, poolK: Int = 16, k: Int = 5,
                 lambdaPct: Int = 70): String = {
    val lam = lambdaPct
    def mmrExpr(pen: String) = s"($lam * (rel + 1000000) + ${100 - lam} * (1000000 - ($pen))) // 100"
    val sb = new StringBuilder
    sb ++= s"""WITH q AS (SELECT embedding AS q_emb FROM $table WHERE vec_id = $qId),
       |base AS (SELECT e.vec_id, e.embedding,
       |    ${sqlMicro(sqlCosine("q.q_emb", "e.embedding", Dim))} AS rel
       |  FROM $table e, q WHERE e.vec_id <> $qId),
       |pool AS (SELECT * FROM base ORDER BY rel DESC, vec_id LIMIT $poolK),
       |p1 AS (SELECT vec_id, embedding, rel,
       |    CAST(${mmrExpr("-1000000")} AS BIGINT) AS mmr, 1 AS rank
       |  FROM pool ORDER BY mmr DESC, vec_id LIMIT 1)""".stripMargin
    var r = 2
    while (r <= k) {
      val prev = s"p${r - 1}"
      sb ++= s""",
         |c$r AS (SELECT c.vec_id, first(c.embedding) AS embedding, c.rel,
         |    max(${sqlMicro(sqlCosine("c.embedding", "p.embedding", Dim))}) AS pen
         |  FROM pool c, $prev p
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
         |  GROUP BY c.vec_id, c.rel),
         |w$r AS (SELECT vec_id, embedding, rel,
         |    CAST(${mmrExpr("pen")} AS BIGINT) AS mmr, $r AS rank
         |  FROM c$r ORDER BY mmr DESC, vec_id LIMIT 1),
         |p$r AS (SELECT * FROM $prev UNION ALL SELECT * FROM w$r)""".stripMargin
      r += 1
    }
    sb ++= s"""
       |SELECT CAST(rank AS INT) AS rank, vec_id AS n_id,
       |  rel AS rel_micro, mmr AS mmr_micro
       |FROM p$k ORDER BY rank""".stripMargin
    sb.toString
  }

  // ---------------------------------------------------------------- k-means

  /** K-means (Lloyd) coarse-quantizer training + final assignment — the
    * TRAINER the IVF tier above presupposes (there, the pre-assigned
    * `label` column plays the centroid role; this op is where such an
    * assignment comes from at corpus scale).
    *
    * Exactness across engines is the hard part: float sums depend on
    * reduction order, so a grouped centroid mean over raw embeddings can
    * never be oracle-compared. Everything here therefore runs in INTEGER
    * micro units (`graft_micro_vec`: floor(x*1e6) per component):
    *  - distances use the 3-dot identity ||q-c||^2 = q.q + c.c - 2 q.c;
    *    each dot is the sequential double fold of [[ColFns.dot]] over
    *    integer-valued doubles — with Dim=64 and |x|<=2 every partial sum
    *    stays far below 2^53, so the fold is EXACT integer arithmetic,
    *    order-identical to the DuckDB mirror.
    *  - centroid updates sum micro components as LONGs per (cid, dim) —
    *    order-free — and take the floored mean with pure long arithmetic
    *    (`(s - pmod(s, n)) div n`), never a double division whose
    *    numerator could exceed 2^53 at 10^12-row cluster sizes.
    *
    * Scale shape, per round: centroids (k x Dim, tiny) BROADCAST under a
    * nested-loop join (never a shuffle of the corpus side); argmin via one
    * `min(struct(dist, cid, q))` hash agg keyed on vec_id (map-side
    * partials; (dist, cid) is unique per vec so the carried q never enters
    * the comparison); the update is a partial-agg shuffle over k*Dim
    * bounded keys. The tiny centroid frame is localCheckpointed each round
    * (the [[Dedup.componentsFrom]] fixpoint idiom) so plan depth does not
    * grow with rounds; no corpus data ever reaches the driver.
    *
    * Deterministic init: the k vectors with the smallest
    * md5-priority h32(vec_id || ':km') (a TakeOrdered top-k, not a global
    * sort), renumbered 1..k in priority order. Empty clusters keep their
    * previous centroid (left-join + coalesce), so k never silently shrinks.
    *
    * Output: one row per vector — (vec_id, cid, dist_mic2) where dist_mic2
    * is the exact squared distance to the final centroid in micro^2 units.
    *
    * [[kmeansAssign]] is the UNORDERED composition leg (the m7 lesson: no
    * operator-embedded sort should enter a downstream chain); [[kmeans]]
    * adds the oracle-determinism orderBy.
    */
  def kmeans(emb: DataFrame, k: Int = 4, rounds: Int = 2): DataFrame =
    kmeansAssign(emb, k, rounds).orderBy("vec_id")

  def kmeansAssign(emb: DataFrame, k: Int = 4, rounds: Int = 2): DataFrame =
    kmeansAssignWith(kmeansCentroids(emb, k, rounds), emb)

  /** The (vec_id, q, sq) micro-int frame every k-means stage consumes. */
  private def microQd(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), microVec(col("embedding")).as("q"))
      .withColumn("sq", dot(col("q"), col("q")))

  /** Sequential-fold self dot product on the driver — the SAME
    * left-to-right double accumulation as [[graft.functions.DotExpression]]
    * (and the DuckDB list_reduce mirror), so a centroid norm computed here
    * is bit-identical to the one the old distributed `dot(c, c)` produced.
    */
  private def selfDot(c: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    acc
  }

  /** Row-local Lloyd argmin over a DRIVER-SIDE centroid model: one
    * struct (dist, cid) per centroid, array_min picks the winner with the
    * SAME (dist, then cid) tie order as the former
    * `min(struct(dist, cid, q))` hash aggregate. dist is the 3-dot
    * identity `sq + c.c - 2 q.c` with the centroid self-dot folded on the
    * driver ([[selfDot]]) and the q.c dot the native codegen fold — every
    * term bit-identical to the former broadcast-join form, but the
    * assignment is now a pure projection: NO join and NO corpus shuffle
    * anywhere in the assignment path (guide §2.4 — the former
    * `groupBy(vec_id).agg(min(struct(...)))` argmin shuffled the entire
    * corpus once per Lloyd round).
    */
  private def argminStruct(cents: Seq[(Int, Array[Double])],
      q: Column, sq: Column): Column =
    array_min(array(cents.map { case (cid, c) =>
      struct((sq + lit(selfDot(c)) - lit(2.0) * dot(q, typedlit(c.toSeq)))
        .as("dist"), lit(cid).as("cid"))
    }: _*))

  /** Assignment over an explicit centroid model: map-only projection. */
  private def kmeansAssignWith(cents: Seq[(Int, Array[Double])],
      emb: DataFrame): DataFrame =
    if (cents.isEmpty)
      microQd(emb).filter(lit(false)).select(col("vec_id"),
        lit(0).cast("int").as("cid"), lit(0L).as("dist_mic2"))
    else
      microQd(emb)
        .withColumn("m", argminStruct(cents, col("q"), col("sq")))
        .select(col("vec_id"), col("m.cid").as("cid"),
          col("m.dist").cast("long").as("dist_mic2"))

  /** The trained centroid model after `rounds` Lloyd rounds, held on the
    * DRIVER as k bounded (cid, components) rows — the MLlib shape: a
    * k-means model is O(k·Dim) regardless of corpus size, so collecting it
    * is a constant-size transfer (exactly like the broadcast the former
    * DataFrame form shipped every round), while freeing every round from
    * distributed joins, window init, posexplode and localCheckpoint jobs.
    *
    * Per round the corpus is touched by ONE map-only pass: row-local
    * argmin ([[argminStruct]]) feeding a hash agg keyed on cid with
    * map-side partials — `count + Dim long sums` per cluster — whose ≤ k
    * result rows come back to the driver; the floored-mean centroid update
    * (`(s - pmod(s, n)) div n`, exact long arithmetic) runs on those k
    * rows. Empty clusters keep their previous centroid, as before. The
    * former per-round shape was: corpus crossJoin broadcast + full-corpus
    * argmin shuffle on vec_id + 64× posexplode + (cid, d) shuffle +
    * collect_list + join + localCheckpoint. Values are bit-identical
    * (integer micro units end to end); only the plan changed, so the
    * frozen DuckDB mirrors still match.
    *
    * Deterministic init unchanged: the k vectors with the smallest
    * h32(vec_id ':km') priority (TakeOrdered), renumbered 1..k.
    */
  private[ops] def kmeansCentroids(emb: DataFrame, k: Int,
      rounds: Int): Seq[(Int, Array[Double])] = {
    val qd = microQd(emb)
    val init = qd
      .withColumn("pri", h32(concat(col("vec_id").cast("string"), lit(":km"))))
      .select(col("pri"), col("vec_id"), col("q"))
      .orderBy(col("pri"), col("vec_id")).limit(k)
      .collect()
      .sortBy(r => (r.getLong(0), r.getLong(1)))
    var cents: Seq[(Int, Array[Double])] = init.zipWithIndex.map {
      case (r, i) => (i + 1, r.getSeq[Double](2).toArray)
    }.toSeq
    if (cents.isEmpty) return cents
    val dim = cents.head._2.length
    var r = 0
    while (r < rounds) {
      val aggs = Seq(count(lit(1)).as("n")) ++
        (0 until dim).map(d =>
          sum(element_at(col("q"), d + 1).cast("long")).as(s"s$d"))
      val upd = qd
        .select(argminStruct(cents, col("q"), col("sq"))
          .getField("cid").as("cid"), col("q"))
        .groupBy(col("cid"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val byCid = upd.map { row =>
        val n = row.getLong(1)
        val c = new Array[Double](dim)
        var d = 0
        while (d < dim) {
          val s = row.getLong(2 + d)
          val m = ((s % n) + n) % n // pmod
          c(d) = (s - m) / n        // exact multiple: long division is exact
          d += 1
        }
        row.getInt(0) -> c
      }.toMap
      cents = cents.map { case (cid, c) => (cid, byCid.getOrElse(cid, c)) }
      r += 1
    }
    cents
  }

  /** DuckDB mirror of [[kmeans]]: the same rounds unrolled as CTE chains,
    * micro-int quantization via list_transform, identical fold order in
    * every dot, identical floored-mean long arithmetic (`//` on an exact
    * multiple equals `div`), identical (dist, cid) tie order.
    */
  def kmeansSql(table: String, k: Int = 4, rounds: Int = 2): String =
    s"""WITH ${kmeansWithBody(table, k, rounds)}
       |SELECT vec_id, cid, CAST(dist AS BIGINT) AS dist_mic2 FROM asg
       |ORDER BY vec_id""".stripMargin

  /** The shared CTE chain ending in `<pfx>asg(vec_id, cid, dist)` — ONE
    * definition used by [[kmeansSql]], [[trainedIvfTopKSql]],
    * [[semDedupSql]] and (per subspace, via `pfx`/`embExpr`/`dim`) by
    * [[pqTopKSql]] (the shardsForSql lesson: hand-inlined copies of a
    * shared rule are where cross-engine bugs breed).
    */
  private def kmeansWithBody(table: String, k: Int, rounds: Int,
      pfx: String = "", embExpr: String = "embedding", dim: Int = Dim): String = {
    def dotq(a: String, b: String): String = sqlDot(a, b, dim)
    val sb = new StringBuilder
    sb ++= s"""${pfx}q0 AS (SELECT vec_id,
       |    list_transform($embExpr, x -> floor(CAST(x AS DOUBLE) * 1000000.0)) AS q
       |  FROM $table),
       |${pfx}qs AS (SELECT vec_id, q, ${dotq("q", "q")} AS sq FROM ${pfx}q0),
       |${pfx}init AS (SELECT CAST(row_number() OVER (ORDER BY pri, vec_id) AS INT) AS cid, q AS c
       |  FROM (SELECT vec_id, q, ${sqlH32("CAST(vec_id AS VARCHAR) || ':km'")} AS pri
       |        FROM ${pfx}q0 ORDER BY pri, vec_id LIMIT $k)),
       |${pfx}c0 AS (SELECT cid, c FROM ${pfx}init)""".stripMargin
    for (r <- 1 to rounds) {
      val p = s"${pfx}c${r - 1}"
      sb ++= s""",
       |${pfx}a$r AS (SELECT vec_id, q, cid FROM (
       |    SELECT vec_id, q, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM (SELECT s.vec_id, s.q, c.cid,
       |            s.sq + ${dotq("c.c", "c.c")} - 2 * ${dotq("s.q", "c.c")} AS dist
       |          FROM ${pfx}qs s CROSS JOIN $p c)) WHERE rn = 1),
       |${pfx}u$r AS (SELECT cid, d, sum(CAST(q[d] AS BIGINT)) AS s, count(*) AS n
       |  FROM ${pfx}a$r CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS d) ds
       |  GROUP BY cid, d),
       |${pfx}n$r AS (SELECT cid, list(CAST((s - (((s % n) + n) % n)) // n AS DOUBLE) ORDER BY d) AS c
       |  FROM ${pfx}u$r GROUP BY cid),
       |${pfx}c$r AS (SELECT p.cid, coalesce(${pfx}n$r.c, p.c) AS c
       |  FROM $p p LEFT JOIN ${pfx}n$r ON p.cid = ${pfx}n$r.cid)""".stripMargin
    }
    sb ++= s""",
       |${pfx}asg AS (SELECT vec_id, cid, dist FROM (
       |  SELECT vec_id, cid, dist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |  FROM (SELECT s.vec_id, c.cid,
       |          s.sq + ${dotq("c.c", "c.c")} - 2 * ${dotq("s.q", "c.c")} AS dist
       |        FROM ${pfx}qs s CROSS JOIN ${pfx}c$rounds c)) WHERE rn = 1)""".stripMargin
    sb.toString
  }

  /** IVF top-k over the TRAINED quantizer — the [[ivfTopK]] search with
    * the pre-assigned `label` column replaced by the [[kmeansAssign]]
    * output, closing the train -> index -> search loop on the engine's own
    * centroids. The assignment join rides the vec_id equi-key; the query
    * side (with its cell ids) broadcasts exactly as in [[ivfTopK]]; the
    * per-query top-k is the same skew-safe two-stage [[topK]]. Cosines run
    * on the RAW float embeddings (the sequential fold), so search quality
    * semantics match the s1-s3 tier; only cell membership comes from the
    * trained model.
    */
  def trainedIvfTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 3,
      kCentroids: Int = 4, rounds: Int = 2): DataFrame = {
    // cell membership from the driver-side trained model: row-local argmin
    // replaces the former vec_id equi-join against the assignment frame —
    // one full corpus shuffle removed from the search path
    val cents = kmeansCentroids(emb, kCentroids, rounds)
    if (cents.isEmpty) // empty corpus: nothing to search (former empty join)
      return emb.select(col("vec_id").as("q_id"), col("vec_id").as("n_id"),
        lit(1).as("rank"), lit(0L).as("cos_micro")).filter(lit(false))
    val e = withNorm(emb)
      .withColumn("q", microVec(col("embedding")))
      .withColumn("sq", dot(col("q"), col("q")))
      .withColumn("cid",
        argminStruct(cents, col("q"), col("sq")).getField("cid"))
      .drop("q", "sq")
    val q = broadcast(e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("cid").as("q_cid"), col("nrm").as("q_nrm")))
    val joined = e.join(q, col("cid") === col("q_cid"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
    topK(joined, k)
  }

  def trainedIvfTopKSql(table: String, nQueries: Int = 8, k: Int = 3,
      kCentroids: Int = 4, rounds: Int = 2): String =
    s"""WITH ${kmeansWithBody(table, kCentroids, rounds)},
       |e AS (SELECT t.vec_id, t.embedding, a.cid
       |  FROM $table t JOIN asg a ON t.vec_id = a.vec_id),
       |qq AS (SELECT vec_id AS q_id, embedding AS q_emb, cid AS q_cid
       |  FROM e WHERE vec_id < $nQueries),
       |s AS (SELECT qq.q_id, e.vec_id AS n_id,
       |    ${sqlCosine("qq.q_emb", "e.embedding", Dim)} AS cos
       |  FROM e JOIN qq ON e.cid = qq.q_cid),
       |r AS (SELECT q_id, n_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
       |  FROM s)
       |SELECT q_id, n_id, CAST(rank AS INT) AS rank, ${sqlMicro("cos")} AS cos_micro
       |FROM r WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------- Product quantization

  /** Product-quantization ANN with asymmetric distance (PQ/ADC, Jégou et
    * al., "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    * the dimension is tiled into `mSub` subspaces, each trained with its
    * own [[kmeansCents]] codebook (the SAME exact-integer Lloyd trainer as
    * s7 — not a near-copy), and every vector is compressed to `mSub` small
    * codes. Search never touches raw embeddings again:
    * `adist(q, v) = sum_s dtab_s[q][code_s(v)]`, where each dtab is the
    * exact integer distance from the query's sub-vector to every centroid
    * of that codebook.
    *
    * Scale shape — the reason PQ exists at 10^12 vectors:
    *  - the CODES table (mSub ints per vector) replaces the corpus of
    *    raw vectors: 64 floats -> 4 codes is a 64x scan-size cut;
    *  - the ADC lookup tables are nQueries * mSub * kCodes rows — they
    *    BROADCAST, and the whole distance evaluation is `mSub` broadcast
    *    hash joins + one projection: the scan is MAP-ONLY, no corpus
    *    shuffle anywhere in the search path;
    *  - the only shuffles are index-build time (the per-subspace argmin
    *    aggs and the vec_id equi-joins assembling the code rows — built
    *    once, reused by every query batch);
    *  - top-k is the staged top-k ([[Ranks.topKPerGroup]]), never one
    *    window task per query over the corpus.
    *
    * Exactness: micro-int sub-vectors, the 3-dot identity per subspace
    * (each partial sum far below 2^53), and adist = a sum of `mSub` exact
    * integer doubles — bit-identical across engines, cast to BIGINT.
    */
  def pqTopK(emb: DataFrame, mSub: Int = 4, kCodes: Int = 4, rounds: Int = 2,
             nQueries: Int = 8, k: Int = 3): DataFrame = {
    require(Dim % mSub == 0, "subspaces must tile the dimension")
    val subDim = Dim / mSub
    // per-subspace codebooks from the shared driver-side trainer (micro
    // quantization commutes with slicing, so training on sliced embeddings
    // equals slicing the quantized vector)
    // the mSub trainers are independent job chains; run them concurrently
    // from a small driver pool (guide §2.6 — overlap independent jobs so
    // each trainer's tiny collect jobs back-fill the others' idle slots)
    val subCents: IndexedSeq[Seq[(Int, Array[Double])]] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(mSub)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence((0 until mSub).map { s =>
        Future(kmeansCentroids(emb.select(col("vec_id"),
          expr(s"slice(embedding, ${s * subDim + 1}, $subDim)").as("embedding")),
          kCodes, rounds))
      }), Duration.Inf)
      finally pool.shutdown()
    }
    // ADC lookup tables computed on the DRIVER from the collected query
    // micro-vectors (nQueries bounded): dist = q.q + c.c - 2 q.c with the
    // same sequential double folds as the former distributed distAll —
    // exact integers, bit-identical values. The former shape was mSub
    // assignment joins (codesWide) + mSub broadcast hash joins (dtabs);
    // now codes AND distances are ONE map-only projection over the corpus
    // (guide §3: the search path touches the corpus once, shuffle-free).
    def subSelfDot(q: Array[Double], lo: Int, hi: Int): Double = {
      var acc = 0.0; var i = lo
      while (i < hi) { acc += q(i) * q(i); i += 1 }
      acc
    }
    def subCross(q: Array[Double], lo: Int, c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < c.length) { acc += q(lo + i) * c(i); i += 1 }
      acc
    }
    val qRows = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), microVec(col("embedding")).as("q"))
      .collect().sortBy(_.getLong(0))
    if (subCents.exists(_.isEmpty) || qRows.isEmpty)
      // empty corpus / no queries: empty result (former empty joins)
      return emb.select(col("vec_id").as("q_id"), col("vec_id").as("n_id"),
        lit(1).as("rank"), lit(0L).as("adist")).filter(lit(false))
    val qDists: Seq[(Long, IndexedSeq[Map[Int, Double]])] = qRows.toSeq.map { r =>
      val qv = r.getSeq[Double](1).toArray
      val tabs = (0 until mSub).map { s =>
        val lo = s * subDim
        val sqs = subSelfDot(qv, lo, lo + subDim)
        subCents(s).map { case (cid, c) =>
          cid -> (sqs + selfDot(c) - 2.0 * subCross(qv, lo, c))
        }.toMap
      }
      (r.getLong(0), tabs)
    }
    // one pass: per-subspace row-local code argmin, then per query the
    // exact ADC sum d0 + d1 + ... (same left-to-right order as the former
    // column sum) via map-literal lookups
    val base = emb.select(col("vec_id").as("n_id"),
      microVec(col("embedding")).as("q"))
    val withCodes = (0 until mSub).foldLeft(base) { (df, s) =>
      val qs = slice(col("q"), s * subDim + 1, subDim)
      df.withColumn(s"qs$s", qs)
        .withColumn(s"c$s",
          argminStruct(subCents(s), col(s"qs$s"),
            dot(col(s"qs$s"), col(s"qs$s"))).getField("cid"))
    }
    val perQuery = qDists.map { case (qid, tabs) =>
      val adist = (0 until mSub)
        .map(s => element_at(typedlit(tabs(s)), col(s"c$s")))
        .reduce(_ + _)
      struct(lit(qid).as("q_id"), adist.cast("long").as("adist"))
    }
    val scored = withCodes
      .select(col("n_id"), explode(array(perQuery: _*)).as("qa"))
      .select(col("qa.q_id").as("q_id"), col("n_id"), col("qa.adist").as("adist"))
    Ranks.topKPerGroup(scored, col("q_id"), col("n_id"), Seq(col("adist"), col("n_id")),
        k, "rank")
      .select(col("q_id"), col("n_id"), col("rank"), col("adist"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB mirror of [[pqTopK]]: one [[kmeansWithBody]] per subspace
    * (prefixed CTEs over sliced embeddings), the same exact-integer ADC
    * sum, the single-window rank the two-stage form provably equals.
    */
  def pqTopKSql(table: String, mSub: Int = 4, kCodes: Int = 4, rounds: Int = 2,
                nQueries: Int = 8, k: Int = 3): String = {
    val subDim = Dim / mSub
    val bodies = (0 until mSub).map { s =>
      kmeansWithBody(table, kCodes, rounds, pfx = s"p${s}_",
        embExpr = s"embedding[${s * subDim + 1}:${(s + 1) * subDim}]",
        dim = subDim)
    }.mkString(",\n")
    val codesU = (0 until mSub)
      .map(s => s"SELECT vec_id, $s AS m, cid FROM p${s}_asg")
      .mkString(" UNION ALL ")
    val dtU = (0 until mSub).map { s =>
      s"""SELECT $s AS m, s.vec_id AS q_id, c.cid,
         |    s.sq + ${sqlDot("c.c", "c.c", subDim)} - 2 * ${sqlDot("s.q", "c.c", subDim)} AS dist
         |  FROM p${s}_qs s CROSS JOIN p${s}_c$rounds c
         |  WHERE s.vec_id < $nQueries""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH $bodies,
       |codes AS ($codesU),
       |dt AS ($dtU),
       |ad AS (SELECT dt.q_id, codes.vec_id AS n_id,
       |    CAST(sum(dt.dist) AS BIGINT) AS adist
       |  FROM codes JOIN dt ON codes.m = dt.m AND codes.cid = dt.cid
       |  GROUP BY dt.q_id, codes.vec_id),
       |r AS (SELECT q_id, n_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rank
       |  FROM ad)
       |SELECT q_id, n_id, CAST(rank AS INT) AS rank, adist
       |FROM r WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- SemDeDup

  /** SemDeDup (Abbas et al. 2023): semantic deduplication over embeddings —
    * k-means the corpus into cells, find within-cell cosine near-dup groups,
    * and keep ONE representative per group: the member FARTHEST from its
    * cluster centroid (the paper's keep-low-centroid-similarity rule —
    * prototypical members carry the least marginal information, edge
    * members the most). This is the embedding-space analogue of
    * [[Dedup.bestCanonical]]: there the keep policy is a text-quality
    * score, here it is centroid distance.
    *
    * Composition (every stage is an already-gated construction):
    *  - cells come from [[kmeansAssign]] — whose exact integer `dist_mic2`
    *    is precisely the keep-rule key, so the policy costs NO extra pass
    *    and is bit-identical across engines (no float sums anywhere);
    *  - pairs >= `thresh` come from the s1 chain with the k-means cell as
    *    the cell ([[cosinePairsUnordered]]): a cell larger than `cellCap`
    *    is LSH-sub-bucketed and every block is capped, so the pair stage
    *    never goes quadratic on a skewed cell (SemDeDup's own clusters are
    *    size-skewed on web data — boilerplate collapses into few cells);
    *  - duplicate groups = [[Dedup.componentsFrom]] (bounded-lineage
    *    min-label propagation; pairs never cross cells, so components
    *    can't either);
    *  - the keeper is picked agg+join, never a window over the component
    *    key: max(dist_mic2) per component map-side, then min(vec_id) among
    *    ties — a giant boilerplate component collapses inside its input
    *    partitions (the d12 idiom, gated by PlanSpec).
    *
    * Output: one row per vector — (vec_id, cid, component, dist_mic2,
    * kept) where kept=1 marks the component's survivor; singletons are
    * their own component and always kept. `sum(1 - kept)` is the prune
    * mass the paper reports.
    */
  def semDedup(emb: DataFrame, kCentroids: Int = 4, rounds: Int = 2,
               thresh: Double = 0.3, cellCap: Int = 10000): DataFrame = {
    // one driver-side trained model serves BOTH consumers: the row-local
    // assignment frame (vec_id, cid, dist_mic2) for the keep rule, and the
    // row-local cid column on the pair path — the former form re-ran the
    // whole distributed Lloyd trainer for each consumer and paid a vec_id
    // equi-join to attach cells
    val cents = kmeansCentroids(emb, kCentroids, rounds)
    if (cents.isEmpty) // empty corpus: empty result (former empty join)
      return kmeansAssignWith(cents, emb)
        .withColumn("component", col("vec_id"))
        .select(col("vec_id"), col("cid"), col("component"),
          col("dist_mic2"), lit(1).cast("int").as("kept"))
    val asg = kmeansAssignWith(cents, emb)
    val cells = emb
      .withColumn("q", microVec(col("embedding")))
      .withColumn("sq", dot(col("q"), col("q")))
      .select(col("vec_id"), col("embedding"),
        argminStruct(cents, col("q"), col("sq")).getField("cid").as("cid"))
    val pairs = cosinePairsUnordered(cells, "cid", thresh, cellCap)
      .select(col("id_a"), col("id_b"))
    val comp = Dedup
      .componentsFrom(emb.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("component"))
    semDedupKeepOver(asg.join(comp, "vec_id")).orderBy("vec_id")
  }

  /** The keep-rule stage over an explicit `(vec_id, cid, component,
    * dist_mic2)` frame — public for the same reason as
    * [[Dedup.bestCanonicalOver]]: components + assignments are computed
    * once and keepers re-picked per policy, and the max-dist / min-id-tie
    * semantics are gateable without depending on which vectors the cosine
    * graph happens to link. Two-stage agg+join, never a window over the
    * component key.
    */
  def semDedupKeepOver(tagged: DataFrame): DataFrame = {
    val best = tagged.groupBy(col("component")).agg(max(col("dist_mic2")).as("bd"))
    val keeper = tagged.join(best, "component")
      .filter(col("dist_mic2") === col("bd"))
      .groupBy(col("component")).agg(min(col("vec_id")).as("keep_id"))
    tagged.join(keeper, "component")
      .select(col("vec_id"), col("cid"), col("component"), col("dist_mic2"),
        (col("vec_id") === col("keep_id")).cast("int").as("kept"))
  }

  /** DuckDB mirror of [[semDedup]]: shares [[kmeansWithBody]] (one trainer
    * definition with s7/s8) and the s1/s6 pair + recursive-components
    * chains; the keep rule is the same two-stage max-then-min-tie form.
    */
  def semDedupSql(table: String, kCentroids: Int = 4, rounds: Int = 2,
                  thresh: Double = 0.3, cellCap: Int = 10000): String =
    s"""WITH RECURSIVE ${kmeansWithBody(table, kCentroids, rounds)},
       |ec AS (SELECT t.vec_id, t.embedding, a.cid
       |  FROM $table t JOIN asg a ON t.vec_id = a.vec_id),
       |${sqlCosinePairCtes("ec", "cid", thresh, cellCap)},
       |${Dedup.sqlReachCtes("pairs", "vec_id", table)},
       |comp AS (SELECT node AS vec_id, min(lbl) AS component
       |  FROM reach GROUP BY node),
       |tg AS (SELECT c.vec_id, a.cid, c.component,
       |    CAST(a.dist AS BIGINT) AS dist_mic2
       |  FROM comp c JOIN asg a ON c.vec_id = a.vec_id),
       |bd AS (SELECT component, max(dist_mic2) AS bd FROM tg GROUP BY component),
       |kp AS (SELECT tg.component, min(tg.vec_id) AS keep_id
       |  FROM tg JOIN bd ON tg.component = bd.component
       |  WHERE tg.dist_mic2 = bd.bd GROUP BY tg.component)
       |SELECT tg.vec_id, tg.cid, tg.component, tg.dist_mic2,
       |  CAST(CASE WHEN tg.vec_id = kp.keep_id THEN 1 ELSE 0 END AS INTEGER) AS kept
       |FROM tg JOIN kp ON tg.component = kp.component
       |ORDER BY tg.vec_id""".stripMargin

  /** Random-hyperplane LSH bucket assignment: 8 sign bits -> bucket id.
    * Pure narrow projection (the scale path: bucket-join for candidates).
    */
  def lshBuckets(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), bucketCol(col("embedding")).as("bucket")).orderBy("vec_id")

  def lshBucketsSql(table: String): String =
    s"SELECT vec_id, ${sqlBucket("embedding")} AS bucket FROM $table ORDER BY vec_id"
}
