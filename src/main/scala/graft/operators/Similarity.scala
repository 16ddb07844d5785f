package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan the
  * corpus once — the right plan when queries are few). Scale path:
  * random-hyperplane LSH —
  * deterministic seeded hyperplanes, signature bucketing, multi-probe via
  * banding; candidate verification only. All pure Column expressions
  * (`zip_with`/`aggregate` folds are sequential → bit-deterministic).
  */
object Similarity {

  /** Σ aᵢbᵢ as double (deterministic left-to-right accumulation). Both
    * inputs must be `array<float>` (the embedding column type); the
    * codegen'd kernel walks the vectors once — see
    * [[graft.functions.VectorKernels]]. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorKernels.dotCol(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Single-pass cosine (Σab, Σaa, Σbb accumulated together — identical
    * operation order to dot/norm composition). `array<float>` inputs. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorKernels.cosineCol(a, b)

  /** L2-normalized copy of an `array<float>` embedding (array<double>,
    * 6-digit rounding — the repo-wide oracle fp-parity convention).
    * Normalize once at ingest and every cosine downstream becomes a plain
    * dot — at 100 TB that halves the per-pair arithmetic of the
    * verification joins. */
  def l2Normalize(vec: Column): Column =
    graft.functions.VectorKernels.l2NormalizeCol(vec)

  /** Symmetric int8 scalar quantization of an `array<float>` embedding:
    * scale = 127/max|x|, round half-away-from-zero — 4× smaller vectors
    * for shuffle/storage-bound stages (candidate generation tolerates the
    * ~0.5% sim error; exact re-rank reads the full vectors). */
  def quantizeInt8(vec: Column): Column =
    graft.functions.VectorKernels.quantizeInt8Col(vec)

  /** HOF fold dot for arbitrary numeric arrays (plane literals etc.) —
    * the general-purpose, non-kernel formulation. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Brute-force cosine top-k: broadcast queries × scan corpus.
    * Output: (query_id, vec_id, sim, rank) — rank 1..k per query. */
  def topK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      excludeSelf: Boolean = true): DataFrame = {
    val joined0 = corpus.select(col(idCol), col(vecCol).as("__cv"))
      .crossJoin(broadcast(queries.select(col(queryIdCol), col(vecCol).as("__qv"))))
    // id-collision self-match excluded by default (querying the corpus
    // against itself); pass excludeSelf = false when doc and query id
    // spaces overlap but are unrelated (both auto-incrementing from 0)
    val joined = (if (excludeSelf) joined0.filter(col(idCol) =!= col(queryIdCol))
      else joined0)
      .withColumn("sim", round(cosine(col("__cv"), col("__qv")), 6))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("sim").desc, col(idCol))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("sim"), col("rank"))
  }

  /** Hybrid retrieval — reciprocal-rank fusion of BM25 lexical ranks and
    * embedding-cosine ranks (RRF, Cormack et al. 2009:
    * `score(d) = Σ_modalities 1/(k0 + rank_m(d))`, absent modality
    * contributes 0). The robust default for "find training docs like this
    * prompt": lexical rescues exact-term matches embeddings smear,
    * embeddings rescue paraphrases BM25 misses, and rank fusion needs no
    * score calibration between the two.
    *
    * Both input rankings are deterministic (6dp-rounded scores, id
    * tiebreak — [[TextOps.bm25]] / [[topK]]), so the fused ranking is
    * reproducible and oracle-replayable. Ids must align between `docs`
    * and `embs` (same corpus, two columns of it).
    *
    * Plan at scale: each modality retrieves its own `poolK` pool (BM25's
    * postings shuffle / brute-force or ANN cosine), the pools — both
    * bounded by |queries|·poolK — full-outer join on (query, doc), and a
    * per-query top-k window runs over ≤ 2·poolK rows per query. At
    * corpus scale pass an ANN path as `semRetriever` — e.g.
    * `(c, q, n) => Similarity.topKIvfPq(c, q, n)` — the fusion stage is
    * modality-agnostic; the default stays brute-force [[topK]]. The
    * retriever must return (queryIdCol, vecIdCol, sim) with 6dp-rounded
    * deterministic scores (every built-in variant does).
    *
    * Self-exclusion (`excludeSelf`, default true) is symmetric and lives
    * HERE, not in the retrievers: when query ids collide with doc ids
    * (querying the corpus against itself), the query document is dropped
    * from BOTH pools and each modality's ranks are recomputed over the
    * surviving pool by (score desc, id) — the same deterministic ordering
    * the retrievers use, so with disjoint id spaces nothing changes.
    * Without this, one pool excluding the self-match while the other
    * ranks it would skew every RRF score for that query. Pass
    * `excludeSelf = false` when doc and query id spaces OVERLAP BUT ARE
    * UNRELATED (both commonly auto-increment from 0) — the default would
    * silently drop legitimate candidate doc i from query i's pools. With
    * false, the built-in semantic retriever is invoked non-excluding
    * too; a custom `semRetriever` must then not self-exclude either
    * (every built-in ANN tier excludes — wrap or re-id when mixing).
    *
    * @return (queryIdCol, docIdCol, lex_rank, sem_rank, rrf, rank) —
    *         modality ranks null when the doc is outside that pool */
  def hybridTopK(
      docs: DataFrame,
      embs: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      k0: Int = 60,
      poolK: Int = 100,
      textCol: String = "text",
      docIdCol: String = "doc_id",
      vecIdCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext",
      semRetriever: (DataFrame, DataFrame, Int) => DataFrame = null,
      excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1 && k0 >= 1 && poolK >= k, "need k >= 1, k0 >= 1, poolK >= k")
    val retrieve =
      if (semRetriever != null) semRetriever
      else (c: DataFrame, q: DataFrame, n: Int) => topK(c, q, k = n,
        idCol = vecIdCol, vecCol = vecCol, queryIdCol = queryIdCol,
        excludeSelf = excludeSelf)
    def pool(df: DataFrame, idC: String, scoreC: String, rankName: String) = {
      val rw = Window.partitionBy(col(queryIdCol))
        .orderBy(col(scoreC).desc, col("__id"))
      val p = df.select(col(queryIdCol), col(idC).as("__id"), col(scoreC))
      (if (excludeSelf) p.filter(col("__id") =!= col(queryIdCol)) else p)
        .withColumn(rankName, row_number().over(rw))
        .drop(scoreC)
    }
    val lex = pool(TextOps.bm25(docs,
        queries.select(col(queryIdCol), col(queryTextCol)),
        textCol = textCol, idCol = docIdCol, queryIdCol = queryIdCol,
        queryTextCol = queryTextCol, topK = poolK),
      docIdCol, "score", "lex_rank")
    val sem = pool(retrieve(embs,
        queries.select(col(queryIdCol), col(vecCol)), poolK),
      vecIdCol, "sim", "sem_rank")
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("rrf").desc, col("__id"))
    lex.join(sem, Seq(queryIdCol, "__id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(k0) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("sem_rank")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("__id").as(docIdCol),
        col("lex_rank"), col("sem_rank"), col("rrf"), col("rank"))
  }

  /** Embedding dimensionality: caller-supplied when known (avoids a driver
    * job per operator call); otherwise inferred with a one-row limit scan. */
  private def dimsOf(df: DataFrame, vecCol: String, dims: Int): Int =
    if (dims > 0) dims else df.select(size(col(vecCol))).first().getInt(0)

  /** Deterministic pseudo-random hyperplanes: seeded PRNG over (plane, dim).
    * Values in [-0.5, 0.5); stable across sessions/partitions — and
    * reproducible by an external oracle that inlines the same literals. */
  def hyperplanes(planes: Int, dims: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes, dims)(rnd.nextDouble() - 0.5)
  }

  /** Sign-bit signature of `vec` against `planes` hyperplanes → long.
    * One kernel pass over the vector for all planes. */
  def lshSignature(vec: Column, planes: Array[Array[Double]]): Column =
    graft.functions.VectorKernels.lshSignatureCol(vec, planes)

  /** Near-dup pairs with cosine ≥ threshold via hyperplane-LSH banding:
    * 16-bit signature split into 4 chunks (pigeonhole on small angular
    * distance), bucket join per chunk, exact cosine verify. */
  def nearDupPairs(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      planesN: Int = 16,
      chunks: Int = 4,
      seed: Long = 42L,
      dims: Int = -1): DataFrame = {
    val d = dimsOf(emb, vecCol, dims)
    val planes = hyperplanes(planesN, d, seed)
    val bitsPer = planesN / chunks

    // signatures once, persisted; slim banded self-join, vectors re-joined
    // only for candidate verification
    val sigs = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", lshSignature(col("v"), planes))
      .persist()

    val banded = sigs.select(col("id"),
      explode(transform(sequence(lit(0), lit(chunks - 1)),
        c => struct(c.as("chunk"),
          call_function("shiftright", col("sig"), c * bitsPer)
            .bitwiseAND(lit((1L << bitsPer) - 1)).as("key"))))
        .as("ck"))
      .select(col("id"), col("ck.chunk"), col("ck.key"))

    val out = banded.alias("a").join(banded.alias("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
      .join(sigs.select(col("id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(sigs.select(col("id").as("vec_b"), col("v").as("vb")), "vec_b")
      .withColumn("sim", round(cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
    Dedup.materializeAndRelease(out, sigs)
  }

  /** Spherical k-means refinement of centroid directions (Lloyd): assign
    * every corpus vector to its argmax-dot cell, recompute each centroid as
    * the L2-normalized element-wise mean of its members, repeat. Runs as
    * `iters` DataFrame aggregations — one narrow (cell, dim) shuffle per
    * round, partial map-side sums; only the nlist×dims centroid matrix
    * (model parameters, not data) ever reaches the driver. Empty cells keep
    * their previous direction. At 100 TB train on a hash-sample of the
    * corpus ([[Sampling.byHash]]) — centroid quality saturates long before
    * millions of training vectors. */
  def kmeansCentroids(
      corpus: DataFrame,
      init: Array[Array[Double]],
      iters: Int,
      vecCol: String = "embedding"): Array[Array[Double]] = {
    var cents = init
    for (_ <- 0 until iters) {
      val stats = corpus
        .select(graft.functions.VectorKernels.argmaxCellCol(col(vecCol), cents).as("cell"),
          posexplode(col(vecCol)))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col").cast("double")).as("s"))
        .collect()
      val next = cents.map(_.clone())
      val acc = Array.fill(cents.length)(new Array[Double](cents(0).length))
      val seen = new Array[Boolean](cents.length)
      stats.foreach { r =>
        val c = r.getInt(0); acc(c)(r.getInt(1)) = r.getDouble(2); seen(c) = true
      }
      for (c <- cents.indices if seen(c)) {
        val n = math.sqrt(acc(c).map(x => x * x).sum)
        if (n > 0) next(c) = acc(c).map(_ / n)
      }
      cents = next
    }
    cents
  }

  /** IVF top-k: quantize the corpus into `nlist` cells around centroid
    * directions (deterministic seeded init, refined by `kmeansIter` rounds
    * of spherical k-means — set 0 for the raw seeded directions, which stay
    * reproducible in ANSI SQL oracles), then search only the query's
    * `nprobe` nearest cells. The inverted-list shape is the scale path when
    * the corpus is huge and queries are many: the corpus shuffles ONCE on
    * cell id, each query joins against nprobe cells instead of the full
    * corpus.
    *
    * Defaults (nlist=16, nprobe=10, kmeansIter=2) measure recall@10 ≈ 0.86
    * on the worst-case fixture (uniform random 64-dim vectors) — with no
    * cluster structure, recall is bounded by the scanned fraction, so a
    * high-recall default must probe most cells; clustered real embeddings
    * concentrate neighbors in few cells and reach the same recall at much
    * smaller nprobe/nlist. `graft.Bench` reports this recall as
    * `ann_recall.ivf_recall_at_10`; OperatorsSpec pins its 0.8 floor.
    *
    * Output: (query_id, vec_id, sim, rank) — rank 1..k per query. */
  def topKIvf(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      seed: Long = 42L,
      dims: Int = -1,
      kmeansIter: Int = 2): DataFrame = {
    val cents0 = hyperplanes(nlist, dimsOf(corpus, vecCol, dims), seed)
    val cents =
      if (kmeansIter > 0) kmeansCentroids(corpus, cents0, kmeansIter, vecCol)
      else cents0

    val assigned = corpus.select(col(idCol), col(vecCol).as("__cv"),
      graft.functions.VectorKernels.argmaxCellCol(col(vecCol), cents).as("__cell"))
    val probed = queries.select(col(queryIdCol), col(vecCol).as("__qv"),
      explode(graft.functions.VectorKernels.topCellsCol(col(vecCol), cents, nprobe))
        .as("__cell"))

    // no dedup needed: each corpus vector lives in exactly one cell and a
    // query probes distinct cells, so (query, vec) pairs are already unique
    val cand = assigned.join(probed, Seq("__cell"))
      .filter(col(idCol) =!= col(queryIdCol))
      .withColumn("sim", round(cosine(col("__cv"), col("__qv")), 6))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("sim").desc, col(idCol))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("sim"), col("rank"))
  }

  /** The deterministic seeded PQ codebook init (per-subspace
    * [[hyperplanes]] directions) — public so an external oracle can inline
    * the exact literals [[pqCodebooks]] starts from. */
  def pqSeedBooks(m: Int, ksub: Int, subdim: Int,
      seed: Long): Array[Array[Array[Double]]] =
    Array.tabulate(m)(s => hyperplanes(ksub, subdim, seed + s))

  /** Product-quantization codebooks: the vector space splits into `m`
    * equal subspaces and each gets `ksub` sub-centroids — deterministic
    * seeded init (per-subspace [[hyperplanes]] directions), refined by
    * `iters` rounds of plain per-subspace k-means (mean update; empty
    * cells keep their previous centroid). `iters = 0` returns the raw
    * seeded books, which stay reproducible in ANSI SQL oracles.
    *
    * The model is vocabulary-sized (m·ksub·(dims/m) doubles — 8 KB at the
    * defaults), so like [[kmeansCentroids]] the update runs on a collected
    * per-(sub, code, dim) partial-sum table: one distributed aggregation
    * per round, never a per-vector driver loop. */
  def pqCodebooks(
      corpus: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 2,
      seed: Long = 42L,
      dims: Int = -1,
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val d = dimsOf(corpus, vecCol, dims)
    require(m >= 1 && d % m == 0, s"dims $d must divide into m=$m subspaces")
    require(ksub >= 1 && iters >= 0, "need ksub >= 1, iters >= 0")
    val subdim = d / m
    var books = pqSeedBooks(m, ksub, subdim, seed)
    for (_ <- 0 until iters) {
      val sub = (col("pos") / subdim).cast("int")
      val stats = corpus
        .select(graft.functions.VectorKernels.pqEncodeCol(col(vecCol), books)
          .as("__codes"), posexplode(col(vecCol)))
        .select(sub.as("sub"), pmod(col("pos"), lit(subdim)).as("subpos"),
          element_at(col("__codes"), sub + 1).as("code"),
          col("col").cast("double").as("v"))
        .groupBy("sub", "code", "subpos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          r.getDouble(3) / r.getLong(4)
      }
      books = next
    }
    books
  }

  /** PQ top-k — the memory-bound ANN scale path: the corpus compresses to
    * `m` small codes per vector (6-bit codes at the tuned ksub=64 default;
    * parquet bit-packing makes the at-rest code table ~20× smaller than
    * 64-dim floats), each query precomputes an integer ADC lookup table
    * ONCE, and
    * the scan scores every candidate with m array lookups instead of a
    * dims-wide float dot. The ADC shortlist (`rerank`·k per query) then
    * re-ranks by exact cosine against only those ids' float vectors.
    *
    * ADC scores are exact fixed-point micro-units (Σ of per-subspace
    * `round(dot·1e6)` longs), so the shortlist is order-independent and
    * replayable by an ANSI oracle; `iters = 0` keeps the seeded codebooks
    * the oracle can inline ([[topKIvf]]'s adjudication — the refined path
    * is covered by the bench recall gate).
    *
    * Plan at scale: codes are computed in the corpus scan and are all the
    * scan ever reads; the query side (with LUTs) broadcasts; one window
    * takes the shortlist; one id equi-join touches the full-precision
    * vectors for the rerank·k survivors only. Compose with an IVF cell
    * filter upstream for sublinear scans when queries are few.
    *
    * Output: (query_id, vec_id, sim, rank) — rank 1..k per query by exact
    * rerank cosine. */
  def topKPq(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int = 16,
      ksub: Int = 64,
      rerank: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      seed: Long = 42L,
      dims: Int = -1,
      iters: Int = 2): DataFrame = {
    require(k >= 1 && rerank >= 1, "need k >= 1, rerank >= 1")
    val books = pqCodebooks(corpus, m, ksub, iters, seed, dims, vecCol)
    val codes = corpus.select(col(idCol),
      graft.functions.VectorKernels.pqEncodeCol(col(vecCol), books).as("__codes"))
    val q = queries.select(col(queryIdCol), col(vecCol).as("__qv"),
      graft.functions.VectorKernels.pqLutCol(col(vecCol), books).as("__lut"))
    val wAdc = Window.partitionBy(col(queryIdCol))
      .orderBy(col("__adc").desc, col(idCol))
    val short = codes.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col(queryIdCol))
      .withColumn("__adc", graft.functions.VectorKernels.pqLookupCol(
        col("__lut"), col("__codes"), ksub))
      .withColumn("__arank", row_number().over(wAdc))
      .filter(col("__arank") <= rerank * k)
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("sim").desc, col(idCol))
    short.join(corpus.select(col(idCol), col(vecCol).as("__cv")), Seq(idCol))
      .withColumn("sim", round(cosine(col("__cv"), col("__qv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("sim"), col("rank"))
  }

  /** IVF-PQ top-k — the production ANN composition (FAISS's default
    * shape): coarse cells prune the scan to `nprobe`/`nlist` of the
    * corpus, PQ codes make scoring the survivors m integer lookups, and
    * the ADC shortlist re-ranks by exact cosine. The at-rest index is
    * (id, cell, codes) — for 64-dim floats ~20× smaller than the vectors,
    * so the scan side of a 100 TB ANN query reads a few TB of codes
    * pruned by cell, and the full-precision vectors are touched only for
    * the rerank·k survivors per query.
    *
    * Both component paths carry exact oracles (q_embed_ivf, q_embed_pq);
    * the composition is gated by its recall floor (spec + bench) like the
    * refined-codebook paths. Query side (with LUTs) broadcasts. */
  def topKIvfPq(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 10,
      m: Int = 16,
      ksub: Int = 64,
      rerank: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      seed: Long = 42L,
      dims: Int = -1,
      kmeansIter: Int = 2,
      iters: Int = 2): DataFrame = {
    require(k >= 1 && rerank >= 1 && nprobe >= 1, "bad k/rerank/nprobe")
    val cents0 = hyperplanes(nlist, dimsOf(corpus, vecCol, dims), seed)
    val cents =
      if (kmeansIter > 0) kmeansCentroids(corpus, cents0, kmeansIter, vecCol)
      else cents0
    val books = pqCodebooks(corpus, m, ksub, iters, seed, dims, vecCol)
    // the at-rest index: id + coarse cell + PQ codes, never the vector
    val assigned = corpus.select(col(idCol),
      graft.functions.VectorKernels.argmaxCellCol(col(vecCol), cents).as("__cell"),
      graft.functions.VectorKernels.pqEncodeCol(col(vecCol), books).as("__codes"))
    val probed = queries.select(col(queryIdCol), col(vecCol).as("__qv"),
      graft.functions.VectorKernels.pqLutCol(col(vecCol), books).as("__lut"),
      explode(graft.functions.VectorKernels.topCellsCol(col(vecCol), cents, nprobe))
        .as("__cell"))
    val wAdc = Window.partitionBy(col(queryIdCol))
      .orderBy(col("__adc").desc, col(idCol))
    val short = assigned.join(broadcast(probed), Seq("__cell"))
      .filter(col(idCol) =!= col(queryIdCol))
      .withColumn("__adc", graft.functions.VectorKernels.pqLookupCol(
        col("__lut"), col("__codes"), ksub))
      .withColumn("__arank", row_number().over(wAdc))
      .filter(col("__arank") <= rerank * k)
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("sim").desc, col(idCol))
    short.join(corpus.select(col(idCol), col(vecCol).as("__cv")), Seq(idCol))
      .withColumn("sim", round(cosine(col("__cv"), col("__qv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("sim"), col("rank"))
  }

  /** Seeded random projection (Johnson–Lindenstrauss) of an embedding
    * column to `outDims` coordinates: dot products against deterministic
    * [[hyperplanes]] directions, L2-re-normalized by default so every
    * downstream cosine operator works unchanged on the smaller vectors.
    * Coordinates round to 6 dp (the [[l2Normalize]] convention) so an
    * ANSI oracle replays them exactly.
    *
    * The 100 TB lever: projection is a pure scan-stage kernel (no
    * shuffle), and every downstream ANN scan, pair verify, or k-means
    * round then costs dims/outDims less — project once, run the whole
    * similarity stack at 64→16 = 4× less vector math, re-rank survivors
    * against the full vectors if exactness matters. */
  def randomProject(
      df: DataFrame,
      outDims: Int,
      seed: Long = 42L,
      dims: Int = -1,
      vecCol: String = "embedding",
      outCol: String = "proj",
      normalize: Boolean = true): DataFrame = {
    require(outDims >= 1, "need outDims >= 1")
    val d = dimsOf(df, vecCol, dims)
    val planes = hyperplanes(outDims, d, seed)
    df.withColumn(outCol, transform(
      graft.functions.VectorKernels.projectCol(col(vecCol), planes, normalize),
      x => round(x, 6)))
  }

  /** Per-group embedding centroids (cluster prep / dataset signatures):
    * element-wise mean per group. Lowered as posexplode → one shuffle on
    * (group, dim) with map-side partial avg → re-assemble in dim order —
    * the shape that scales to arbitrary corpus size (no per-group buffering
    * of whole vectors; dims × groups partial states). */
  def centroids(
      emb: DataFrame,
      groupCol: Column,
      vecCol: String = "embedding"): DataFrame = {
    val exploded = emb.select(groupCol.as("grp"), posexplode(col(vecCol)))
    exploded
      .groupBy(col("grp"), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy(col("grp"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("centroid"))
  }

  /** IVF-style bucketed ANN top-k: assign corpus + queries to their nearest
    * LSH bucket family and search only matching buckets — the scale path
    * when queries are many (no broadcast of the whole corpus). Recall < 1
    * by construction; rank semantics as in [[topK]].
    *
    * Defaults (planesN=24, chunks=8) measure recall@10 ≈ 0.88 on the
    * WORST-CASE fixture (uniform random 64-dim vectors, no cluster
    * structure) at a ~0.66 random-pair candidate fraction — on real
    * clustered embeddings the same banding reaches that recall at a far
    * lower fraction, because near neighbors collide with much higher
    * probability than random pairs while the random-collision rate stays
    * fixed. Lower chunks (or raise planesN) for cheaper, lower-recall
    * searches. `graft.Bench` reports this recall as
    * `ann_recall.bucketed_recall_at_10`; OperatorsSpec pins its 0.8
    * floor. */
  def topKBucketed(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      planesN: Int = 24,
      chunks: Int = 8,
      seed: Long = 42L,
      dims: Int = -1): DataFrame = {
    val planes = hyperplanes(planesN, dimsOf(corpus, vecCol, dims), seed)

    // signatures once, persisted; banded join ships ids only, vectors
    // re-join for candidate verification (same discipline as nearDupPairs —
    // shipping arrays through the ×chunks band explosion is the difference
    // between seconds and minutes at scale)
    val csigs = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv"),
      lshSignature(col(vecCol), planes).as("sig")).persist()
    val qsigs = queries.select(col(queryIdCol).as("__qid"), col(vecCol).as("__qv"),
      lshSignature(col(vecCol), planes).as("sig")).persist()

    val cand = annCandidates(csigs, qsigs, planesN, chunks)
    val verified = cand
      .join(csigs.select(col("__cid"), col("__cv")), "__cid")
      .join(qsigs.select(col("__qid"), col("__qv")), "__qid")
      .withColumn("sim", round(cosine(col("__cv"), col("__qv")), 6))
    val w = Window.partitionBy(col("__qid")).orderBy(col("sim").desc, col("__cid"))
    val ranked = verified.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(queryIdCol), col("__cid").as(idCol),
        col("sim"), col("rank"))
    Dedup.materializeAndRelease(ranked, csigs, qsigs)
  }

  /** SemDeDup-shaped semantic near-dup pairs: cluster the corpus into
    * `nlist` spherical-kmeans cells (deterministic seeded directions,
    * optionally refined by `kmeansIter` Lloyd rounds), then emit
    * within-cell pairs with cosine ≥ `threshold`. Cross-cell near-dups are
    * missed by construction — that is the published SemDeDup trade
    * (arXiv:2303.09540): at corpus scale all-pairs cosine is quadratic, so
    * pair search is confined to semantic clusters.
    *
    * Scale story: cell assignment is one scan (centroid matrix broadcast
    * inside the kernel literal); pair generation is ONE shuffle of the
    * slim (id, cell) projection via the shared intra-bucket pair kernel
    * (sorted member array → ordered pairs, no self-join); vectors re-join
    * only for candidate verification. Size `nlist` so cells stay bounded —
    * `nlist ≈ N / targetCellSize` (SemDeDup uses tens of thousands of
    * clusters at web scale; a cell of B members costs B²/2 candidates).
    * `maxCell` skips degenerate cells outright (same discipline as the
    * LSH hot-bucket cap). Train centroids on a hash-sample
    * ([[Sampling.byHash]]) — quality saturates long before corpus size.
    *
    * Output: (vec_a, vec_b, sim) with vec_a < vec_b. */
  def semanticPairs(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      nlist: Int = 16,
      kmeansIter: Int = 2,
      maxCell: Int = 100000,
      seed: Long = 42L,
      dims: Int = -1): DataFrame = {
    val cents0 = hyperplanes(nlist, dimsOf(emb, vecCol, dims), seed)
    val cents =
      if (kmeansIter > 0) kmeansCentroids(emb, cents0, kmeansIter, vecCol)
      else cents0

    val assigned = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      graft.functions.VectorKernels.argmaxCellCol(col(vecCol), cents).as("cell"))
      .persist()

    val pairs = Dedup.bucketPairs(
      assigned.select(col("id"), col("cell")), Seq("cell"), "id", maxCell)
    val out = pairs
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
      .join(assigned.select(col("id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(assigned.select(col("id").as("vec_b"), col("v").as("vb")), "vec_b")
      .withColumn("sim", round(cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
    Dedup.materializeAndRelease(out, assigned)
  }

  // ---------------------------------------------------------------- PCA

  /** Fitted PCA: `mean` (d), all `eigenvalues` of the population
    * covariance in descending order (d — their sum is the total variance,
    * so explained-variance ratios come free), and the top-k principal
    * axes as `basis` rows (each unit-norm, sign-canonicalized so the
    * largest-|component| entry is positive — eigenvectors are only
    * defined up to sign, and a deterministic convention makes refits
    * byte-reproducible). */
  final case class PcaModel(
      mean: Array[Double],
      eigenvalues: Array[Double],
      basis: Array[Array[Double]]) {
    def explainedVariance: Array[Double] = {
      val t = eigenvalues.sum
      basis.indices.map(i =>
        if (t == 0.0) 0.0 else eigenvalues(i) / t).toArray
    }
  }

  private[operators] final class MomentsBuf(val d: Int) extends Serializable {
    var n: Long = 0L
    val s: Array[Double] = new Array[Double](d)
    // upper triangle of Σ x·xᵀ, row-major: (0,0)..(0,d-1),(1,1)..,(d-1,d-1)
    val p: Array[Double] = new Array[Double](d * (d + 1) / 2)
  }
  private[operators] final case class MomentsOut(
      n: Long, s: Seq[Double], p: Seq[Double])

  /** One-pass second-moment summary of a float-vector column: count, Σx
    * and the upper triangle of Σ x·xᵀ. Partial buffers build map-side and
    * merge element-wise, so the only thing that ever crosses the wire is
    * O(d²) doubles per partition — a 100 TB corpus reduces to one
    * d(d+3)/2-double summary regardless of row count. Vectors whose
    * length differs from `d` are skipped (ragged rows cannot silently
    * corrupt the triangle). */
  private[operators] final class Moments(d: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Float], MomentsBuf, MomentsOut] {
    def zero: MomentsBuf = new MomentsBuf(d)
    def reduce(b: MomentsBuf, v: Array[Float]): MomentsBuf = {
      if (v != null && v.length == d) {
        b.n += 1
        var t = 0
        var i = 0
        while (i < d) {
          val xi = v(i).toDouble
          b.s(i) += xi
          var j = i
          while (j < d) { b.p(t) += xi * v(j).toDouble; t += 1; j += 1 }
          i += 1
        }
      }
      b
    }
    def merge(a: MomentsBuf, b: MomentsBuf): MomentsBuf = {
      a.n += b.n
      var i = 0
      while (i < a.s.length) { a.s(i) += b.s(i); i += 1 }
      var t = 0
      while (t < a.p.length) { a.p(t) += b.p(t); t += 1 }
      a
    }
    def finish(b: MomentsBuf): MomentsOut =
      MomentsOut(b.n, b.s.toSeq, b.p.toSeq)
    def bufferEncoder: org.apache.spark.sql.Encoder[MomentsBuf] =
      org.apache.spark.sql.Encoders.kryo[MomentsBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[MomentsOut] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[MomentsOut]()
  }

  private[operators] final class VecMeanBuf(val d: Int) extends Serializable {
    var n: Long = 0L
    val s: Array[Double] = new Array[Double](d)
  }

  /** Element-wise mean of a float-vector column as a typed aggregator:
    * O(d) buffer, map-side partials, so pooling shuffles one d-double
    * summary per partition per group — never the vectors themselves.
    * Ragged/null vectors are skipped; an empty group yields an empty
    * array. */
  private[operators] final class VecMean(d: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Float], VecMeanBuf, Seq[Double]] {
    def zero: VecMeanBuf = new VecMeanBuf(d)
    def reduce(b: VecMeanBuf, v: Array[Float]): VecMeanBuf = {
      if (v != null && v.length == d) {
        b.n += 1
        var i = 0
        while (i < d) { b.s(i) += v(i).toDouble; i += 1 }
      }
      b
    }
    def merge(a: VecMeanBuf, b: VecMeanBuf): VecMeanBuf = {
      a.n += b.n
      var i = 0
      while (i < a.s.length) { a.s(i) += b.s(i); i += 1 }
      a
    }
    def finish(b: VecMeanBuf): Seq[Double] =
      if (b.n == 0) Seq.empty else b.s.map(_ / b.n).toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[VecMeanBuf] =
      org.apache.spark.sql.Encoders.kryo[VecMeanBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Mean-pool embeddings per group — the chunk→document (or
    * sentence→passage) roll-up after [[graft.operators.TextOps.chunkDocs]]
    * + per-chunk embedding: `outCol` = element-wise mean as
    * `array<double>`. ONE hash shuffle of O(d)-double partial sums (the
    * [[VecMean]] aggregator) — the posexplode/groupBy formulation would
    * shuffle n·d scalar rows instead. Empty groups (only ragged/null
    * vectors) pool to an empty array. */
  def meanPool(
      df: DataFrame,
      group: Seq[String],
      vecCol: String = "embedding",
      outCol: String = "mean_vec",
      dims: Int = -1): DataFrame = {
    require(group.nonEmpty, "need at least one group column")
    val d = dimsOf(df, vecCol, dims)
    val agg = udaf(new VecMean(d))
    df.groupBy(group.map(col): _*).agg(agg(col(vecCol)).as(outCol))
  }

  /** Cyclic Jacobi eigendecomposition of a small symmetric matrix (the
    * d×d covariance a PCA fit reduces to — driver-local by design, like
    * the k-means/PQ codebook tables above). Returns eigenvalues in
    * descending order with their unit eigenvectors as rows,
    * sign-canonicalized (largest-|component| entry positive, first index
    * on ties). Converges quadratically; 64 sweeps is far beyond what any
    * PSD matrix needs. */
  private[operators] def jacobiEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offSq: Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      s
    }
    val frob = {
      var s = 0.0
      for (i <- 0 until d; j <- 0 until d) s += a(i)(j) * a(i)(j)
      math.max(s, Double.MinPositiveValue)
    }
    var sweep = 0
    while (sweep < 64 && offSq > 1e-28 * frob) {
      for (p <- 0 until d; q <- p + 1 until d if a(p)(q) != 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t =
          (if (theta >= 0) 1.0 else -1.0) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        val apq = a(p)(q)
        val app = a(p)(p); val aqq = a(q)(q)
        a(p)(p) = app - t * apq
        a(q)(q) = aqq + t * apq
        a(p)(q) = 0.0; a(q)(p) = 0.0
        for (i <- 0 until d if i != p && i != q) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq; a(p)(i) = a(i)(p)
          a(i)(q) = s * aip + c * aiq; a(q)(i) = a(i)(q)
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val evals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { j =>
      val col = Array.tabulate(d)(i => v(i)(j))
      var best = 0
      var i = 1
      while (i < d) {
        if (math.abs(col(i)) > math.abs(col(best))) best = i
        i += 1
      }
      if (col(best) < 0) col.map(-_) else col
    }.toArray
    (evals, vecs)
  }

  /** Fit a PCA over an `array<float>` embedding column. ONE pass over the
    * corpus (the [[Moments]] aggregator — map-side partials, O(d²) bytes
    * per partition on the wire), then a driver-local d×d Jacobi
    * eigendecomposition of the POPULATION covariance
    * (Σxxᵀ/n − μμᵀ; the divisor only scales eigenvalues, never the
    * axes). The scale shape matches what embedding whitening / SemDeDup
    * pre-reduction needs at 100 TB: the corpus is read once, nothing
    * shuffles on a data key, and the model is a k×d table shipped back
    * to executors as plan-time literals. */
  def pcaFit(
      corpus: DataFrame,
      k: Int,
      vecCol: String = "embedding",
      dims: Int = -1): PcaModel = {
    val d = dimsOf(corpus, vecCol, dims)
    require(k >= 1 && k <= d, s"need 1 <= k <= dims, got k=$k dims=$d")
    val agg = udaf(new Moments(d))
    val row = corpus.select(agg(col(vecCol)).as("m"))
      .select(col("m.n"), col("m.s"), col("m.p")).head()
    val n = row.getLong(0)
    require(n > 1, s"pcaFit needs >= 2 vectors of length $d, saw $n")
    val s = row.getSeq[Double](1).toArray
    val p = row.getSeq[Double](2).toArray
    val mean = s.map(_ / n)
    val cov = Array.ofDim[Double](d, d)
    var t = 0
    for (i <- 0 until d; j <- i until d) {
      val c = p(t) / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
      t += 1
    }
    val (evals, vecs) = jacobiEigen(cov)
    PcaModel(mean, evals, vecs.take(k))
  }

  /** Apply a fitted PCA: adds `outCol` = W·(x − μ) as `array<double>`,
    * length k. The centering folds into one constant per output
    * coordinate (W·x − W·μ), so the projection is a single codegen'd
    * kernel pass over the vector — scan speed, zero shuffle.
    * `whiten = true` rescales each axis by 1/√λ (unit variance per
    * coordinate — the preprocessing cosine-based semantic dedup wants
    * when the leading components would otherwise dominate); the scale
    * folds into the basis/offset literals, so the kernel is unchanged.
    * Axes with λ ≤ 0 (numerically empty directions) whiten to 0. */
  def pcaProject(
      df: DataFrame,
      model: PcaModel,
      vecCol: String = "embedding",
      outCol: String = "proj",
      whiten: Boolean = false): DataFrame = {
    val basis =
      if (!whiten) model.basis
      else model.basis.zipWithIndex.map { case (w, i) =>
        val ev = model.eigenvalues(i)
        val s = if (ev > 0) 1.0 / math.sqrt(ev) else 0.0
        w.map(_ * s)
      }
    val offs = basis.map(w =>
      w.indices.foldLeft(0.0)((acc, i) => acc + w(i) * model.mean(i)))
    df.withColumn(outCol,
      graft.functions.VectorKernels.projectOffsetCol(
        col(vecCol), basis, offs))
  }

  /** Fit + project in one call — the "reduce my embeddings to k dims"
    * convenience (2 corpus passes total: one moment scan, one projection
    * scan). */
  def pcaReduce(
      corpus: DataFrame,
      k: Int,
      vecCol: String = "embedding",
      outCol: String = "proj",
      dims: Int = -1,
      whiten: Boolean = false): DataFrame =
    pcaProject(corpus, pcaFit(corpus, k, vecCol, dims), vecCol, outCol,
      whiten)

  /** Slim banded corpus×query candidate pairs: the only columns that ride
    * the ×chunks explosion and its join exchange are (id, chunk, key).
    * Inputs must carry `__cid`/`__qid` + `sig`. */
  private[graft] def annCandidates(
      csigs: DataFrame, qsigs: DataFrame, planesN: Int, chunks: Int): DataFrame = {
    val bitsPer = planesN / chunks
    def band(df: DataFrame, id: String): DataFrame =
      df.select(col(id),
        explode(transform(sequence(lit(0), lit(chunks - 1)),
          c => struct(c.as("chunk"),
            call_function("shiftright", col("sig"), c * bitsPer)
              .bitwiseAND(lit((1L << bitsPer) - 1)).as("key")))).as("ck"))
        .select(col(id), col("ck.chunk"), col("ck.key"))
    band(csigs, "__cid")
      .join(band(qsigs, "__qid"), Seq("chunk", "key"))
      .filter(col("__cid") =!= col("__qid"))
      .select("__qid", "__cid")
      .dropDuplicates("__qid", "__cid")
  }
}
