package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Ckpt.GraftCheckpoint
import graft.functions.VectorOps

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two tiers, mirroring how a 100 TB corpus is actually served:
  *   - brute-force cosine top-k: the exactness baseline. The query vector
  *     is broadcast (1 row), scoring is a native codegen'd dot product per
  *     row, and top-k plans as TakeOrderedAndProject (per-task heaps, no
  *     global sort) — linear scan, no shuffle.
  *   - IVF-style search: vectors are pre-bucketed into cells (the
  *     fixture's `label` plays the coarse-quantizer assignment);
  *     searching probes only the nProbe cells whose centroids are nearest
  *     the query.
  *
  * Norms are computed ONCE per row in a narrow projection and reused
  * across every pair — the O(pairs) work is a single dot product.
  * cosine = dot/(‖a‖·‖b‖) evaluates in the same order as
  * VectorOps.cosine, so results are bit-identical to the naive form (and
  * to the DuckDB oracle).
  */
object SimilarityOps {

  /** embeddings + precomputed L2 norm (narrow, codegen'd). */
  private def withNorm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).embeddings
      .select($"vec_id", $"label", $"embedding",
        VectorOps.l2Norm($"embedding").as("nrm"))
  }

  /** Brute-force cosine top-20 neighbours of vec_id = 0. */
  def q24AnnBrute(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = withNorm(spark, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id",
        (VectorOps.dot($"embedding", $"q_emb") / ($"nrm" * $"q_nrm")).as("cos_raw"))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(20)
      .select($"vec_id", round($"cos_raw", 4).as("cos_sim"))
  }

  val q24Sql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |d AS (SELECT e.vec_id, e.embedding AS ee, q.qe
      |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
      |u AS (SELECT vec_id, CAST(unnest(ee) AS DOUBLE) AS x,
      |             CAST(unnest(qe) AS DOUBLE) AS y FROM d),
      |s AS (SELECT vec_id, sum(x * y) AS dot, sqrt(sum(x * x)) AS ne,
      |             sqrt(sum(y * y)) AS nq
      |      FROM u GROUP BY vec_id)
      |SELECT vec_id, round(dot / (ne * nq), 4) AS cos_sim
      |FROM s
      |ORDER BY dot / (ne * nq) DESC, vec_id
      |LIMIT 20""".stripMargin

  /** IVF coarse-index build: one centroid per cell (cell = the fixture's
    * `label` coarse-quantizer assignment), reassembled as an ordered
    * float array. At scale this is the OFFLINE half of IVF — computed
    * once per corpus version, persisted as a (tiny) parquet artifact, and
    * broadcast to queries; it is never recomputed inside a lookup.
    */
  def buildIvfIndex(embeddings: DataFrame): DataFrame = {
    import embeddings.sparkSession.implicits._
    embeddings
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos").agg(avg($"v".cast("double")).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))), s => s("c").cast("float")).as("centroid"))
  }

  /** Scratch root for index artifacts: `spark.graft.scratch` if set (an
    * absolute shared/scratch location in production), else an ABSOLUTE
    * form of ./target — never a raw CWD-relative path, which would move
    * with the caller's working directory.
    */
  private def scratchRoot(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.scratch")
      .getOrElse(new java.io.File("target").getAbsolutePath)

  /** Index artifact path for a fixture dir (the fixture dirs themselves
    * are read-only). The readable slug alone can collide ('/a b' vs
    * '/a_b'), so the FULL path is also md5-hashed into the name.
    */
  private def indexPath(spark: SparkSession, dir: String, name: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    scratchRoot(spark) + s"/$name/" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + digest
  }

  /** Newest data-file mtime under a source path. Object stores expose no
    * meaningful mtime for a directory PREFIX, so staleness must compare
    * against the files themselves, not the directory entry.
    */
  private def maxFileMtime(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) st.getModificationTime
    else {
      val children = fs.listStatus(p)
      if (children.isEmpty) st.getModificationTime
      else children.map(c =>
        if (c.isDirectory) maxFileMtime(fs, c.getPath) else c.getModificationTime).max
    }
  }

  /** Read-or-build the persisted index. Rebuilds when any source data
    * file is newer than the artifact (corpus version changed), so a
    * stale index can never serve a refreshed corpus. The build lands in
    * a temp dir and RENAMES into place: readers never observe a
    * half-written artifact, and of two racing builders exactly one
    * rename wins (the loser discards its temp and serves the winner's
    * equally-fresh artifact).
    */
  private def persistedIndex(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val idx = new Path(indexPath(spark, dir, name))
    val src = new Path(s"$dir/embeddings.parquet")
    // each path through ITS OWN filesystem — the local index FS cannot
    // stat an hdfs://|s3:// source dir ("Wrong FS").
    // <= : a source rewritten within the same mtime tick as the build
    // (coarse filesystem clocks) must count as stale, not fresh
    val idxFs = idx.getFileSystem(conf)
    val srcFs = src.getFileSystem(conf)
    val srcMtime = maxFileMtime(srcFs, src)
    val stale = !idxFs.exists(idx) ||
      maxFileMtime(idxFs, idx) <= srcMtime
    if (stale) {
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val tmp = new Path(idx.toString + ".tmp-" + nonce)
      build.write.mode("overwrite").parquet(tmp.toString)
      // same publish order as Warehouse.compact: move the old artifact
      // ASIDE (rename, not delete) before renaming the fresh one in, so
      // a crash in the window leaves a recoverable artifact and the
      // missing-path gap for concurrent readers is one rename wide.
      // Losing the move-aside race to a concurrent builder is fine —
      // whoever wins is publishing an equally fresh artifact, so the
      // result of this rename is deliberately ignored.
      val backup = new Path(idx.toString + ".old-" + nonce)
      if (idxFs.exists(idx)) idxFs.rename(idx, backup): Unit
      if (!idxFs.rename(tmp, idx)) {
        idxFs.delete(tmp, true)
        // our publish lost: accept the winner's artifact, or restore the
        // copy we moved aside; only a still-missing index is an error
        if (!idxFs.exists(idx) &&
            !(idxFs.exists(backup) && idxFs.rename(backup, idx)))
          throw new java.io.IOException(s"IVF index publish failed for $idx")
      }
      idxFs.delete(backup, true): Unit // no-op when we never took it
    }
    spark.read.parquet(idx.toString)
  }

  private def ivfIndex(spark: SparkSession, dir: String): DataFrame =
    persistedIndex(spark, dir, "ivf-index")(
      buildIvfIndex(Tables(spark, dir).embeddings))

  /** Registered IVF probe width, shared by the q25 lookup and the q147
    * recall eval. Chosen from the measured operating curve (PERF.md
    * round-12): on clustered data (what an IVF index is for) nProbe=1
    * is already exact on the planted fixture, 2 buys boundary-query
    * margin at 20% scan cost; on the proximity-free driver fixture no
    * width short of all cells helps, and the right move is a different
    * index (SRP-LSH, q60), not a wider probe.
    */
  private[graft] val IvfNProbe = 2

  /** IVF-style ANN lookup: probe the 2 cells whose PRECOMPUTED centroids
    * are nearest the query, exact cosine within them, top-10. The lookup
    * plan touches the embeddings table only for the probed-cell scan —
    * no posexplode/groupBy index build per query (that lives in
    * buildIvfIndex). Oracle: a DuckDB twin of build+probe+scan.
    */
  def q25AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = withNorm(spark, dir)
    val centroids = ivfIndex(spark, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    val probed = centroids.crossJoin(broadcast(q))
      .select($"label",
        (VectorOps.dot($"centroid", $"q_emb") / (VectorOps.l2Norm($"centroid") * $"q_nrm")).as("cell_cos"))
      .orderBy($"cell_cos".desc, $"label")
      .limit(IvfNProbe)
      .select($"label")
    e.filter($"vec_id" =!= 0)
      .join(broadcast(probed), "label")
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label",
        (VectorOps.dot($"embedding", $"q_emb") / ($"nrm" * $"q_nrm")).as("cos_raw"))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(10)
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos_sim"))
  }

  /** DuckDB twin of q25: rebuilds the same centroids (double mean per
    * (cell, dim), cast to float like the stored index), probes the same
    * 2 cells, and scores the same probed-cell scan.
    */
  val q25Sql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |cu AS (SELECT label, unnest(range(len(embedding))) AS pos,
      |              CAST(unnest(embedding) AS DOUBLE) AS v
      |       FROM embeddings),
      |cent AS (SELECT label, pos, CAST(avg(v) AS FLOAT) AS c
      |         FROM cu GROUP BY label, pos),
      |qu AS (SELECT unnest(range(len(qe))) AS pos,
      |              CAST(unnest(qe) AS DOUBLE) AS y FROM q),
      |cs AS (SELECT label, sum(CAST(c AS DOUBLE) * y) AS dot,
      |              sqrt(sum(CAST(c AS DOUBLE) * CAST(c AS DOUBLE))) AS nc,
      |              sqrt(sum(y * y)) AS nq
      |       FROM cent JOIN qu USING (pos) GROUP BY label),
      |probed AS (SELECT label FROM cs ORDER BY dot / (nc * nq) DESC, label LIMIT 2),
      |d AS (SELECT e.vec_id, e.label, e.embedding AS ee, q.qe
      |      FROM embeddings e JOIN probed USING (label) CROSS JOIN q
      |      WHERE e.vec_id <> 0),
      |u AS (SELECT vec_id, label, CAST(unnest(ee) AS DOUBLE) AS x,
      |             CAST(unnest(qe) AS DOUBLE) AS y FROM d),
      |s AS (SELECT vec_id, label, sum(x * y) AS dot, sqrt(sum(x * x)) AS ne,
      |             sqrt(sum(y * y)) AS nq
      |      FROM u GROUP BY vec_id, label)
      |SELECT vec_id, label, round(dot / (ne * nq), 4) AS cos_sim
      |FROM s
      |ORDER BY dot / (ne * nq) DESC, vec_id
      |LIMIT 10""".stripMargin

  /** Embedding near-dup: pairs within the same cell with cosine ≥ τ
    * (API default 0.92 — the dup regime; the REGISTERED query runs the
    * fixture-calibrated τ, see [[q23EmbedNearDup]]).
    * The label blocking bounds pair count; per-pair work is one native
    * dot product (norms precomputed per row). The ≥ cut happens on the
    * pre-round double (portable across engines).
    *
    * GUARD: block sizes are corpus-dependent (the fixture's `label` is
    * the quantizer), and the pairwise join is O(block²) — a runaway
    * block would dominate the whole job. The operator pre-checks the
    * block histogram (a tiny agg) and refuses blocks over `maxBlock`,
    * pointing oversized corpora at the vector LSH path (srpDedup — no
    * blocking, no quadratic stage) or a finer quantizer, instead of
    * silently running a quadratic stage.
    */
  def q23EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    // τ is fixture-calibrated (q135's convention): the regenerated
    // driver embeddings have no planted near-identical pairs (max
    // pairwise cosine ≈ 0.51, within-label ≈ 0.475), so the registered
    // query cuts at the within-label spectrum's upper tail to keep the
    // oracle hash exercising real pair decisions; the planted spec
    // pins dup semantics at the 0.92 API default.
    embedNearDup(spark, dir, tau = 0.4)

  private[graft] def embedNearDup(spark: SparkSession, dir: String,
      maxBlock: Int = 4096, tau: Double = 0.92): DataFrame = {
    import spark.implicits._
    val e = withNorm(spark, dir)
    val oversized = e.groupBy($"label").agg(count(lit(1)).as("n"))
      .filter($"n" > maxBlock).take(1)
    require(oversized.isEmpty, {
      val r = oversized.head
      s"label block ${r.get(0)} holds ${r.get(1)} vectors (> $maxBlock): " +
        "blocked pairwise cosine is O(block^2) per block - route oversized " +
        "blocks through the vector LSH path (srpDedup / q60_srp_dedup) or a finer quantizer"
    })
    e.as("a").join(e.as("b"),
        $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id")
      .select(
        $"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        (VectorOps.dot($"a.embedding", $"b.embedding") / ($"a.nrm" * $"b.nrm")).as("cos_raw"))
      .filter($"cos_raw" >= tau)
      .select($"vec_a", $"vec_b", round($"cos_raw", 4).as("cos_sim"))
      .orderBy($"vec_a", $"vec_b")
  }

  val q23Sql: String =
    """WITH pairs AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |         a.embedding AS ea, b.embedding AS eb
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id),
      |u AS (SELECT vec_a, vec_b, CAST(unnest(ea) AS DOUBLE) AS x,
      |             CAST(unnest(eb) AS DOUBLE) AS y FROM pairs),
      |s AS (SELECT vec_a, vec_b, sum(x * y) AS dot, sqrt(sum(x * x)) AS na,
      |             sqrt(sum(y * y)) AS nb
      |      FROM u GROUP BY vec_a, vec_b)
      |SELECT vec_a, vec_b, round(dot / (na * nb), 4) AS cos_sim
      |FROM s WHERE dot / (na * nb) >= CAST('0.4' AS DOUBLE)
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Product quantization geometry: the 64-dim space splits into M=8
    * contiguous 8-dim subspaces; each subspace gets K=|labels| codewords
    * (the label cells' per-subspace means — the same deterministic
    * label-as-cluster assignment the IVF coarse index uses, so the whole
    * IVF-PQ stack is oracle-reproducible with no iterative k-means
    * nondeterminism).
    */
  private val PqM = 8
  private val PqSubLen = 8

  /** Fail fast when the corpus's embedding dimensionality doesn't match a
    * fixed geometry (PQ needs PqM·PqSubLen = 64; SRP planes are 64-dim).
    * Without this, a mismatched corpus flows through a structurally
    * degenerate plan — `slice` past the end yields empty subvectors in
    * Spark while a parallel-unnest oracle NULL-pads them — two engines
    * silently diverging instead of one loud error. One aggregate over the
    * size column at plan-build time — min AND max, so a RAGGED corpus
    * (mixed dims, which a single-row probe can sail past) and NULL
    * embeddings (size() returns null, excluded from min/max but counted)
    * both fail loudly. Setup validation, not a per-row hot-path cost: a
    * narrow scan of one array-length per row, no shuffle (partial min/max
    * combine to 1 row).
    */
  private def requireDim(embeddings: DataFrame, dim: Int, who: String): Unit = {
    val r = embeddings
      .agg(min(size(col("embedding"))).as("lo"), max(size(col("embedding"))).as("hi"),
        count(lit(1)).as("n"), count(col("embedding")).as("nonNull"))
      .collect().head
    if (r.getLong(2) > 0) {
      require(r.getLong(3) == r.getLong(2),
        s"$who requires non-null embeddings, found ${r.getLong(2) - r.getLong(3)} NULL rows")
      require(r.getInt(0) == dim && r.getInt(1) == dim,
        s"$who requires $dim-dim embeddings, found dims in [${r.getInt(0)}, ${r.getInt(1)}]")
    }
  }

  /** Codebook size cap. Real PQ trains a FIXED number of codewords per
    * subspace (classically 256) on a corpus sample; cost of encoding is
    * O(N·M·K) and must stay linear in N. Deriving codewords from label
    * cells without a cap would let K grow with the corpus (the sf1
    * scale-up exposed exactly that: 36× runtime for 10× data) — so the
    * codebook takes the K smallest label cells, a deterministic stand-in
    * for sampled k-means training.
    */
  private val PqK = 16

  /** (vec_id, label, m, sub): each vector split into its M subvectors —
    * row-local slices, no shuffle.
    */
  private def subvectors(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.select($"vec_id", $"label", explode(array((0 until PqM).map { m =>
        struct(lit(m).as("m"), slice($"embedding", m * PqSubLen + 1, PqSubLen).as("sub"))
      }: _*)).as("ms"))
      .select($"vec_id", $"label", $"ms.m".as("m"), $"ms.sub".as("sub"))
  }

  /** PQ codebook build (the OFFLINE half, persisted like the IVF index):
    * codeword (label, m) = the label cell's mean subvector in subspace m,
    * stored float like the vectors themselves. M×K rows total — broadcast
    * size regardless of corpus scale.
    */
  def buildPqCodebook(embeddings: DataFrame): DataFrame = {
    import embeddings.sparkSession.implicits._
    requireDim(embeddings, PqM * PqSubLen, "buildPqCodebook")
    val trainCells = embeddings.select($"label").distinct().orderBy($"label").limit(PqK)
    subvectors(embeddings.join(broadcast(trainCells), "label"))
      .select($"label", $"m", posexplode($"sub").as(Seq("pos", "v")))
      .groupBy($"label", $"m", $"pos").agg(avg($"v".cast("double")).as("c"))
      .groupBy($"label", $"m")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))), s => s("c").cast("float")).as("cb"))
  }

  private def pqIndex(spark: SparkSession, dir: String): DataFrame =
    persistedIndex(spark, dir, "pq-index")(
      buildPqCodebook(Tables(spark, dir).embeddings))

  /** Sequential-fold squared L2 distance between two float subvectors,
    * accumulated in double strictly left-to-right — the identical
    * operation order DuckDB's sum-over-unnest applies, so the distances
    * (and therefore the argmin code assignment) are bit-identical across
    * engines. Native codegen'd expression: this runs corpus×M×K times
    * per encode pass, where the interpreted zip_with/aggregate fold it
    * replaces (same bits, VectorOpsSpec-pinned) dominated the profile.
    */
  private def sqDist(a: Column, b: Column): Column =
    graft.plans.FloatVectorExpressions.sqDistF32(a, b)

  /** IVF-PQ's fine half — ANN lookup by product quantization with ADC
    * (asymmetric distance computation) scoring, exact re-rank on the
    * retrieved set:
    *
    *   1. encode every vector as M codeword ids: per subspace, the
    *      nearest codeword by squared L2 (codebook broadcast; tie-break
    *      smallest label — min over a (dist, label) struct);
    *   2. score candidates against the UNQUANTIZED query on the
    *      reconstructed vector: dot(q, v̂) = Σ_m dot(q_m, codeword_m) —
    *      one sequential 64-dim dot per vector, the exact summation
    *      shape the q24/q25 oracles already hash-match;
    *   3. take the ADC top-10 and re-rank with exact cosine (the
    *      standard retrieve-approximately/re-rank-exactly serving
    *      pattern).
    *
    * At scale: the codebook is M×K rows — loaded into the plan as
    * LITERALS (the FAISS serving pattern: codebooks live in RAM), so
    * encode + reconstruct + ADC-score is ONE narrow row-local projection:
    * a pure linear scan with no shuffle before the top-k. 16 bytes of
    * code state per vector in a real deployment.
    */
  def q59AnnPq(spark: SparkSession, dir: String): DataFrame =
    annPq(Tables(spark, dir).embeddings, pqIndex(spark, dir), queryId = 0, k = 10)

  private[graft] def annPq(embeddings: DataFrame, cb: DataFrame,
      queryId: Long, k: Int): DataFrame = {
    import embeddings.sparkSession.implicits._
    requireDim(embeddings, PqM * PqSubLen, "annPq")
    val e = embeddings.select($"vec_id", $"label", $"embedding",
      VectorOps.l2Norm($"embedding").as("nrm"))
    // Row-local encode over the literal codebook: per subspace, argmin
    // codeword by the same sequential sqDist and (dist, label) tie-break
    // the former shuffle construction used — array_min over structs is
    // the identical lexicographic min, so code assignments (and the
    // reconstruction, and therefore every score) are bit-for-bit
    // unchanged; only the plan shape changes (the subvector explode-join
    // and the two per-vec aggregations are gone).
    val cwByM: Map[Int, Seq[(Int, Seq[Float])]] = cb
      .select($"m", $"label", $"cb").collect()
      .map(r => (r.getAs[Int]("m"), r.getAs[Int]("label"), r.getSeq[Float](2)))
      .groupBy(_._1)
      .view.mapValues(_.toSeq.sortBy(_._2).map(t => (t._2, t._3))).toMap
    require(cwByM.keySet == (0 until PqM).toSet,
      s"PQ codebook must cover all $PqM subspaces, has ${cwByM.keySet.size}")
    def cwArr(m: Int): Column = array(cwByM(m).map { case (lbl, v) =>
      struct(lit(lbl).as("c"), array(v.map(lit(_)): _*).as("cb")) }: _*)
    def cwMap(m: Int): Column = map(cwByM(m).flatMap { case (lbl, v) =>
      Seq(lit(lbl), array(v.map(lit(_)): _*)) }: _*)
    def codeFor(m: Int): Column = {
      val sub = slice($"embedding", m * PqSubLen + 1, PqSubLen)
      array_min(transform(cwArr(m), c =>
        struct(sqDist(sub, c("cb")).as("d"), c("c").as("c")))).getField("c")
    }
    val coded = e.filter($"vec_id" =!= queryId)
      .withColumn("__codes", array((0 until PqM).map(codeFor): _*))
      .withColumn("recon", flatten(array((0 until PqM).map(m =>
        element_at(cwMap(m), element_at($"__codes", m + 1))): _*)))
    val q = e.filter($"vec_id" === queryId)
      .select($"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    // ADC-cosine: normalize by the RECONSTRUCTED vector's norm so the
    // approximate ranking estimates the same cosine the exact re-rank
    // (and the q24 baseline) uses — raw dot would let norm variation,
    // which quantization preserves poorly, dominate the ranking
    val top10 = coded.crossJoin(broadcast(q))
      .select($"vec_id",
        (VectorOps.dot($"recon", $"q_emb") / (VectorOps.l2Norm($"recon") * $"q_nrm")).as("adc_raw"))
      .orderBy($"adc_raw".desc, $"vec_id")
      .limit(k)
    broadcast(top10)
      .join(e.select($"vec_id", $"embedding", $"nrm"), "vec_id")
      .crossJoin(broadcast(q))
      .select($"vec_id", $"adc_raw",
        (VectorOps.dot($"embedding", $"q_emb") / ($"nrm" * $"q_nrm")).as("cos_raw"))
      .orderBy($"adc_raw".desc, $"vec_id")
      .select($"vec_id", round($"adc_raw", 4).as("adc_cos"), round($"cos_raw", 4).as("cos_sim"))
  }

  /** DuckDB twin of q59: same codebook (double means cast to float),
    * same sequential squared-L2 assignment, same reconstructed-dot ADC
    * scoring, same exact re-rank — the full PQ pipeline hash-checks.
    */
  val q59Sql: String =
    s"""WITH ms AS (SELECT unnest(range($PqM)) AS m),
       |sub AS (SELECT vec_id, label, m,
       |               list_slice(embedding, m * $PqSubLen + 1, m * $PqSubLen + $PqSubLen) AS sub
       |        FROM embeddings CROSS JOIN ms),
       |su AS (SELECT vec_id, label, m, unnest(range($PqSubLen)) AS pos,
       |              CAST(unnest(sub) AS DOUBLE) AS v FROM sub),
       |train AS (SELECT DISTINCT label FROM embeddings ORDER BY label LIMIT $PqK),
       |cbd AS (SELECT label AS c, m, pos, CAST(avg(v) AS FLOAT) AS cv
       |        FROM su WHERE label IN (SELECT label FROM train)
       |        GROUP BY label, m, pos),
       |d AS (SELECT s.vec_id, s.m, cb.c,
       |             sum((s.v - CAST(cb.cv AS DOUBLE)) * (s.v - CAST(cb.cv AS DOUBLE))) AS dist
       |      FROM su s JOIN cbd cb ON s.m = cb.m AND s.pos = cb.pos
       |      WHERE s.vec_id <> 0
       |      GROUP BY s.vec_id, s.m, cb.c),
       |codes AS (SELECT vec_id, m, c AS code FROM (
       |    SELECT vec_id, m, c,
       |           row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
       |    FROM d) WHERE rn = 1),
       |cba AS (SELECT c, m, list(cv ORDER BY pos) AS cb FROM cbd GROUP BY c, m),
       |recon AS (SELECT vec_id, flatten(list(cb ORDER BY codes.m)) AS recon
       |          FROM codes JOIN cba ON codes.m = cba.m AND codes.code = cba.c
       |          GROUP BY vec_id),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ru AS (SELECT vec_id, CAST(unnest(recon) AS DOUBLE) AS x,
       |              CAST(unnest(qe) AS DOUBLE) AS y
       |       FROM recon CROSS JOIN q),
       |adc AS (SELECT vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS adc_raw
       |        FROM ru GROUP BY vec_id),
       |top AS (SELECT vec_id, adc_raw FROM adc ORDER BY adc_raw DESC, vec_id LIMIT 10),
       |eu AS (SELECT e.vec_id, t.adc_raw,
       |              CAST(unnest(e.embedding) AS DOUBLE) AS x,
       |              CAST(unnest(q.qe) AS DOUBLE) AS y
       |       FROM embeddings e JOIN top t ON e.vec_id = t.vec_id CROSS JOIN q),
       |ex AS (SELECT vec_id, adc_raw, sum(x * y) AS dot,
       |              sqrt(sum(x * x)) AS ne, sqrt(sum(y * y)) AS nq
       |       FROM eu GROUP BY vec_id, adc_raw)
       |SELECT vec_id, round(adc_raw, 4) AS adc_cos, round(dot / (ne * nq), 4) AS cos_sim
       |FROM ex ORDER BY adc_raw DESC, vec_id""".stripMargin

  /** Signed-random-projection LSH geometry: 64 hyperplanes → a 64-bit
    * signature per vector, banded 4×16 bits. One 16-bit band key space is
    * 65,536 buckets, so random collisions stay rare as the corpus grows;
    * a pair at cosine ≥ 0.998 (a true duplicate) flips essentially no
    * bits and collides in ≥1 band with probability ≈ 1. This is the
    * GLOBAL scale path for embedding duplicate detection — no label
    * blocking, no O(block²) — tuned for high precision (verify ≥ 0.99);
    * q23 remains the looser 0.92-threshold blocked variant.
    */
  private val SrpH = 64
  private val SrpBandBits = 16

  /** Deterministic portable hyperplanes: component (h, d) folds the first
    * 8 hex digits of md5("h|d") to a 31-bit integer, maps it to
    * [−0.5, 0.5) and stores float — every step reproducible in the
    * DuckDB oracle, so the ENTIRE signature pipeline hash-checks.
    * Built once driver-side (64×64 hashes), broadcast to executors.
    */
  private[graft] def srpPlanes: Seq[(Int, Array[Float])] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def fold(s: String): Long = java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8), 16)
    val p31 = DedupOps.P31
    (0 until SrpH).map { h =>
      (h, Array.tabulate(64) { d =>
        ((fold(s"$h|$d") % p31).toDouble / p31 - 0.5).toFloat
      })
    }
  }

  /** Global embedding duplicate detection by SRP-LSH: signature bit h is
    * the sign of the vector's projection on hyperplane h (one native
    * 64-dim dot each), band keys assemble 16 bits into an integer,
    * candidates are the banded self-join, and every candidate is
    * verified with exact cosine ≥ `threshold`. At scale: the plane set
    * broadcasts (64 rows), signatures are one narrow aggregate per
    * vector, and the self-join is an equi-join on (band, key) — the
    * standard LSH shuffle, never all-pairs.
    */
  private[graft] def srpDedup(embeddings: DataFrame, threshold: Double): DataFrame = {
    import embeddings.sparkSession.implicits._
    val spark = embeddings.sparkSession
    requireDim(embeddings, 64, "srpDedup")
    val e = embeddings.select($"vec_id", $"embedding",
      VectorOps.l2Norm($"embedding").as("nrm"))
    val planes = spark.createDataFrame(srpPlanes.map { case (h, r) => (h, r.toSeq) })
      .toDF("h", "r")
    val bits = embeddings.crossJoin(broadcast(planes))
      .select($"vec_id", $"h",
        when(VectorOps.dot($"embedding", $"r") >= 0, 1).otherwise(0).as("bit"))
    val buckets = bits
      .groupBy($"vec_id", expr(s"h div $SrpBandBits").as("band"))
      .agg(sum(expr(s"shiftleft(bit, h % $SrpBandBits)")).cast("long").as("k"))
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        $"a.band" === $"b.band" && $"a.k" === $"b.k" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b")).distinct()
    cand
      .join(e.select($"vec_id".as("vec_a"), $"embedding".as("ea"), $"nrm".as("na")), "vec_a")
      .join(e.select($"vec_id".as("vec_b"), $"embedding".as("eb"), $"nrm".as("nb")), "vec_b")
      .select($"vec_a", $"vec_b",
        (VectorOps.dot($"ea", $"eb") / ($"na" * $"nb")).as("cos_raw"))
      .filter($"cos_raw" >= threshold)
      .select($"vec_a", $"vec_b", round($"cos_raw", 4).as("cos_sim"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** q60 keeps its τ = 0.99 duplicate-detection regime even though the
    * regenerated fixture has no near-identical pairs (max cosine
    * ≈ 0.51): SRP banding's recall contract is calibrated to that
    * regime ((1 − θ/π)^bandBits collision probability collapses at
    * loose thresholds), so chasing a fixture-calibrated τ would be
    * dishonest about what the operator recalls.
    *
    * Planted positive-control leg (r18, ordered by the r17 verdict —
    * the bare corpus made this a vacuous 0-rows-vs-0-rows oracle
    * match): every vec_id ≡ 0 (mod 100) contributes a scaled twin at
    * vec_id + 10⁷ with each component ×1.001 (double-multiply, cast
    * back to float — bit-identical in both engines). Scaling preserves
    * every projection sign up to float rounding, so the twin collides
    * with its original in all four bands and verifies at cosine ≈ 1;
    * twin-vs-OTHER pairs inherit the base corpus's ≤0.51 cosines and
    * fail the τ = 0.99 verify. Output: one (orig, twin) row per planted
    * id — 5 / 5 / 20 rows at sf0.001/0.01/0.1 — plus whatever true
    * dups the corpus itself ever grows. The planted
    * DedupSimilaritySpec fixture still pins recall on near-copies that
    * are NOT exact scalings (component-wise 1.002x noise).
    */
  def q60SrpDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir).embeddings
    val base = emb.select($"vec_id", $"embedding")
    val planted = base.filter($"vec_id" % 100 === 0)
      .select(($"vec_id" + 10000000L).as("vec_id"),
        transform($"embedding",
          x => (x.cast("double") * 1.001).cast("float")).as("embedding"))
    srpDedup(base.unionByName(planted), threshold = 0.99)
  }

  /** DuckDB twin of q60: same md5-derived hyperplanes, same d-ordered
    * projection sums (parallel unnest zip — no join reordering), same
    * band assembly and exact verify.
    */
  val q60Sql: String = {
    val foldH = (1 to 8).map { j =>
      val mult = 1L << (4 * (8 - j))
      s"(strpos('0123456789abcdef', substr(md5(CAST(h AS VARCHAR) || '|' || CAST(d AS VARCHAR)), $j, 1)) - 1) * $mult"
    }.mkString(" + ")
    val p31 = DedupOps.P31
    s"""WITH embu AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000000 AS vec_id,
       |         list_transform(embedding,
       |           x -> CAST(CAST(x AS DOUBLE) * 1.001 AS FLOAT)) AS embedding
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |hp AS (
       |  SELECT h, d,
       |         CAST(CAST(($foldH) % $p31 AS DOUBLE) / $p31 - 0.5 AS FLOAT) AS r
       |  FROM (SELECT unnest(range($SrpH)) AS h)
       |  CROSS JOIN (SELECT unnest(range(64)) AS d)),
       |hpl AS (SELECT h, list(r ORDER BY d) AS rl FROM hp GROUP BY h),
       |pu AS (SELECT vec_id, h, CAST(unnest(embedding) AS DOUBLE) AS x,
       |              CAST(unnest(rl) AS DOUBLE) AS r
       |       FROM embu CROSS JOIN hpl),
       |dots AS (SELECT vec_id, h, sum(x * r) AS dot FROM pu GROUP BY vec_id, h),
       |bits AS (SELECT vec_id, h, CASE WHEN dot >= 0 THEN 1 ELSE 0 END AS bit FROM dots),
       |bk AS (SELECT vec_id, h // $SrpBandBits AS band,
       |              CAST(sum(bit << (h % $SrpBandBits)) AS BIGINT) AS k
       |       FROM bits GROUP BY vec_id, h // $SrpBandBits),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM bk a JOIN bk b
       |           ON a.band = b.band AND a.k = b.k AND a.vec_id < b.vec_id),
       |vu AS (SELECT vec_a, vec_b, CAST(unnest(ea.embedding) AS DOUBLE) AS x,
       |              CAST(unnest(eb.embedding) AS DOUBLE) AS y
       |       FROM cand
       |       JOIN embu ea ON vec_a = ea.vec_id
       |       JOIN embu eb ON vec_b = eb.vec_id),
       |s AS (SELECT vec_a, vec_b, sum(x * y) AS dot,
       |             sqrt(sum(x * x)) AS na, sqrt(sum(y * y)) AS nb
       |      FROM vu GROUP BY vec_a, vec_b)
       |SELECT vec_a, vec_b, round(dot / (na * nb), 4) AS cos_sim
       |FROM s WHERE dot / (na * nb) >= 0.99
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Shared Lloyd machinery for q99 (reporting) and q135 (SemDeDup):
    * quantize to integer millis, deterministic init (the k lowest
    * vec_ids), 2 assign/update rounds, final assignment. Returns
    * (final centroids (cid, cq), final assignment (vec_id, eq, cid)).
    *
    * The quantized corpus is re-read by every assignment round and the
    * centroid frames by every consumer — localCheckpoint-publish both
    * (centroids are k rows; the corpus blocks are freed by the
    * ContextCleaner when the frame drops — q89's pattern) so the
    * 3-assign/2-update chain is 5 passes, not an exponential re-derive.
    * Each assignment round collects the k centroids to the driver and
    * evaluates a single codegen'd argmin kernel per row (see `assign`
    * below) — the broadcast-k-means shape, with the broadcast realized
    * as a literal.
    */
  private[graft] def kmeansAssign(spark: SparkSession, dir: String,
      k: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val eq = Tables(spark, dir).embeddings
      .select($"vec_id",
        graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"))
      .ckpt()

    // assignment: centroids collect to the driver (k·dim longs, ≤ 2 MB
    // at the k = 4096 cap — the MLlib broadcast-k-means contract, same
    // class as the PQ codebook literals) and ride into ONE codegen'd
    // argmin kernel as a row-major literal matrix. One row-local
    // projection, no join: the earlier crossJoin-against-centroids form
    // materialized N·k rows each dragging the dim-long array (765s at
    // sf10); this is the same exact integer arithmetic — strict-<
    // first-min over cid-sorted rows IS the (dist, cid) lexicographic
    // tie-break — in a tight flat loop.
    def assign(cents: DataFrame): DataFrame = {
      val rows = cents.select($"cid", $"cq").collect()
        .sortBy(_.getLong(0))
      val cids = rows.map(_.getLong(0))
      val flat = rows.flatMap(_.getSeq[Long](1))
      eq.select($"vec_id", $"eq",
        element_at(lit(cids),
          graft.plans.FloatVectorExpressions.argMinSqDistI64($"eq", lit(flat))
            + 1).as("cid"))
    }

    // nearest-integer (half-up) of the exact mean S/n, all integer:
    // floor((2S + n) / (2n)) — the remainder reduction makes Spark's
    // truncating div behave as floor for the (possibly negative) S
    def update(assigned: DataFrame): DataFrame =
      assigned
        .select($"cid", posexplode($"eq").as(Seq("pos", "v")))
        .groupBy($"cid", $"pos")
        .agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .withColumn("cq",
          expr("(2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) div (2*n)"))
        .groupBy($"cid")
        .agg(transform(array_sort(collect_list(struct($"pos", $"cq"))),
          s => s("cq")).as("cq"))
        .ckpt()

    val init = eq.filter($"vec_id" < k)
      .select($"vec_id".as("cid"), $"eq".as("cq"))
    val c2 = update(assign(update(assign(init))))
    (c2, assign(c2))
  }

  /** Lloyd's k-means over the embedding corpus: k=4, deterministic init
    * (the k lowest vec_ids), 2 assign/update rounds, final assignment.
    * The clustering primitive behind corpus bucketing, IVF coarse
    * quantizer training (q25 consumes exactly this artifact shape), and
    * diversity-aware sampling.
    *
    * Scale shape — the textbook broadcast k-means: centroids are k×dim
    * integers broadcast to every task; assignment is a row-local argmin
    * over the broadcast (k·N projected rows, no shuffle of the corpus);
    * the update shuffles only (cid, pos) partial sums — k·dim rows after
    * map-side combine. Iterations are driver-sequenced (2 here; a real
    * run loops to movement < ε) but each round's lineage is 2 stages.
    *
    * Oracle-parity: the whole iteration is INTEGER arithmetic.
    * Embeddings quantize once to integer millis, and each round's
    * centroids snap back to the millis grid (round-half-up of the exact
    * integer mean, via the engine-portable floor-div identity — BOTH
    * Spark's `div` and DuckDB's `//` truncate toward zero, so the
    * non-negative remainder is removed first on both sides, making the
    * division exact and floor-valued). Distances are then integer sums of squares: order-
    * independent, no fp summation drift — at sf1 the earlier
    * double-distance variant flipped ONE near-equidistant vector's
    * argmin between engines (last-ulp divergence); on the grid that
    * class of failure cannot exist. Ties break (dist, cid)
    * lexicographic. Snapping to a 0.001 grid changes centroids by at
    * most 0.5 millis per coordinate — far below the fixture's
    * inter-cluster distances (a production run tightens the grid, not
    * the algorithm).
    */
  def q99Kmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (c2, assigned) = kmeansAssign(spark, dir, k = 4)
    val norms = c2.select($"cid",
      round(sqrt(aggregate($"cq", lit(0L), (acc, x) => acc + x * x)
        .cast("double")) / 1000.0, 4).as("centroid_norm"))
    assigned
      .groupBy($"cid")
      .agg(count(lit(1)).as("n_members"), min($"vec_id").as("rep_vec"))
      .join(norms, Seq("cid"))
      .select($"cid", $"n_members", $"rep_vec", $"centroid_norm")
      .orderBy($"cid")
  }

  val q99Sql: String =
    """WITH u AS (
      |  SELECT vec_id,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS v,
      |         generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, pos, v AS cq FROM u WHERE vec_id < 4),
      |d1 AS (SELECT u.vec_id, c0.cid,
      |              CAST(sum((u.v - c0.cq) * (u.v - c0.cq)) AS BIGINT) AS dist
      |       FROM u JOIN c0 USING (pos) GROUP BY u.vec_id, c0.cid),
      |a1 AS (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |         FROM d1) WHERE rn = 1),
      |c1 AS (SELECT a1.cid, u.pos,
      |              (2*sum(u.v) + count(*)
      |               - (((2*sum(u.v) + count(*)) % (2*count(*)) + 2*count(*))
      |                  % (2*count(*)))) // (2*count(*)) AS cq
      |       FROM u JOIN a1 USING (vec_id) GROUP BY a1.cid, u.pos),
      |d2 AS (SELECT u.vec_id, c1.cid,
      |              CAST(sum((u.v - c1.cq) * (u.v - c1.cq)) AS BIGINT) AS dist
      |       FROM u JOIN c1 USING (pos) GROUP BY u.vec_id, c1.cid),
      |a2 AS (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |         FROM d2) WHERE rn = 1),
      |c2 AS (SELECT a2.cid, u.pos,
      |              (2*sum(u.v) + count(*)
      |               - (((2*sum(u.v) + count(*)) % (2*count(*)) + 2*count(*))
      |                  % (2*count(*)))) // (2*count(*)) AS cq
      |       FROM u JOIN a2 USING (vec_id) GROUP BY a2.cid, u.pos),
      |d3 AS (SELECT u.vec_id, c2.cid,
      |              CAST(sum((u.v - c2.cq) * (u.v - c2.cq)) AS BIGINT) AS dist
      |       FROM u JOIN c2 USING (pos) GROUP BY u.vec_id, c2.cid),
      |a3 AS (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |         FROM d3) WHERE rn = 1),
      |norms AS (SELECT cid,
      |            round(sqrt(CAST(sum(cq * cq) AS DOUBLE)) / 1000.0, 4)
      |              AS centroid_norm
      |          FROM c2 GROUP BY cid)
      |SELECT a3.cid, count(*) AS n_members, min(vec_id) AS rep_vec,
      |       max(norms.centroid_norm) AS centroid_norm
      |FROM a3 JOIN norms ON a3.cid = norms.cid
      |GROUP BY a3.cid
      |ORDER BY a3.cid""".stripMargin

  /** SemDeDup-style semantic dedup (cluster-then-prune; Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540 — published method, no code
    * consulted): k-means-partition the embedding corpus, compute pairwise
    * cosine ONLY within each cluster, and drop every vector that is
    * ≥ τ-similar to an earlier (lower vec_id) vector of its cluster.
    * Output: one row per dropped vector with its cluster, the kept
    * representative (the lowest qualifying vec_id), and the similarity.
    *
    * Scale shape — this is the algorithm whose entire point is making
    * embedding dedup sub-quadratic: k grows with the corpus
    * (k = clamp(n/128, 4, 4096) here; web-scale runs use ~10⁵ clusters;
    * past the k cap use q163's sampled-train + pruned-assign variant)
    * so E[cluster size] stays constant and the within-cluster pair join
    * is O(n · c̄), not O(n²). The pair generation is one shuffle on cid;
    * the k-means phase is the broadcast-centroid shape documented on
    * [[kmeansAssign]]. A histogram guard refuses degenerate clusterings
    * (a runaway cluster would silently reintroduce the quadratic
    * regime) and points them at the SRP-LSH path (q60) that needs no
    * clustering — same guard philosophy as q23's block cap.
    *
    * Oracle-parity: cluster assignment is exact integer arithmetic
    * (kmeansAssign); the cosine is computed from integer dot/norm sums
    * (exact in both engines) with the only fp ops being one cast, two
    * sqrts, one multiply, one divide — the same IEEE sequence on both
    * sides, so the τ cut cannot straddle engines. SemDeDup's documented
    * blind spot — near-dups split across cluster boundaries are never
    * compared — is inherent to the method, not this implementation.
    *
    * τ is corpus-calibrated (the paper tunes it per corpus/dedup budget;
    * production text embeddings use ~0.95+, the API default is 0.85).
    * The driver's regenerated random fixture has a flat similarity
    * spectrum with max pairwise cosine ≈ 0.51, so the REGISTERED query
    * runs at τ = 0.45 — the spectrum's upper tail — to keep the oracle
    * hash check exercising real prune decisions instead of an empty set.
    * True near-dup semantics are pinned by the planted-cluster spec at
    * the default τ.
    */
  def q135SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(spark, dir, tau = 0.45)

  private[graft] def semanticDedup(spark: SparkSession, dir: String,
      tau: Double = 0.85, maxCluster: Long = 16384L): DataFrame = {
    import spark.implicits._
    // corpus-proportional k: one 1-row count at plan-build time (setup,
    // not per-row work — requireDim's precedent)
    val n = Tables(spark, dir).embeddings.count()
    val k = math.min(4096L, math.max(4L, n / 128L)).toInt
    val (_, assigned) = kmeansAssign(spark, dir, k)
    val e = assigned
      .select($"vec_id", $"cid", $"eq",
        graft.plans.FloatVectorExpressions.normSqI64($"eq").as("n2"))
      .ckpt()
    pruneWithinClusters(e, tau, maxCluster)
  }

  /** Within-cluster τ-prune shared by q135 (exact assignment) and q163
    * (sampled-train, pruned assignment). `e` must be a published frame
    * of (vec_id, cid, eq, n2). One cid-keyed self-join, cosine from
    * exact integer dot/norm sums, keep-earliest (min vec_id) rule.
    */
  private def pruneWithinClusters(e: DataFrame, tau: Double,
      maxCluster: Long): DataFrame = {
    import e.sparkSession.implicits._
    val oversized = e.groupBy($"cid").agg(count(lit(1)).as("cn"))
      .filter($"cn" > maxCluster).take(1)
    require(oversized.isEmpty, {
      val r = oversized.head
      s"cluster ${r.get(0)} holds ${r.get(1)} vectors (> $maxCluster): " +
        "within-cluster pairwise cosine is O(cluster^2) - raise k or route " +
        "the corpus through the SRP-LSH path (q60_srp_dedup)"
    })
    e.as("a").join(e.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        col("a.cid").as("cid"),
        (graft.plans.FloatVectorExpressions.dotI64(col("a.eq"), col("b.eq"))
          .cast("double") /
          (sqrt(col("a.n2").cast("double")) * sqrt(col("b.n2").cast("double"))))
          .as("cos_raw"))
      .filter($"cos_raw" >= tau)
      .groupBy($"vb", $"cid")
      .agg(min(struct($"va", $"cos_raw")).as("m"))
      .select($"vb".as("vec_id"), $"cid", $"m.va".as("kept_id"),
        round($"m.cos_raw", 4).as("cos_sim"))
      .orderBy($"vec_id")
  }

  /** q99's Lloyd chain with corpus-proportional k, then the within-cluster
    * pair prune. Same integer grid, same floor-div centroid identity.
    */
  val q135Sql: String =
    """WITH kk AS (
      |  SELECT LEAST(4096, GREATEST(4, count(*) // 128)) AS k FROM embeddings),
      |u AS MATERIALIZED (
      |  SELECT vec_id,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS v,
      |         generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, pos, v AS cq FROM u
      |       WHERE vec_id < (SELECT k FROM kk)),
      |d1 AS (SELECT u.vec_id, c0.cid,
      |              CAST(sum((u.v - c0.cq) * (u.v - c0.cq)) AS BIGINT) AS dist
      |       FROM u JOIN c0 USING (pos) GROUP BY u.vec_id, c0.cid),
      |a1 AS MATERIALIZED (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |         FROM d1) WHERE rn = 1),
      |c1 AS (SELECT a1.cid, u.pos,
      |              (2*sum(u.v) + count(*)
      |               - (((2*sum(u.v) + count(*)) % (2*count(*)) + 2*count(*))
      |                  % (2*count(*)))) // (2*count(*)) AS cq
      |       FROM u JOIN a1 USING (vec_id) GROUP BY a1.cid, u.pos),
      |d2 AS (SELECT u.vec_id, c1.cid,
      |              CAST(sum((u.v - c1.cq) * (u.v - c1.cq)) AS BIGINT) AS dist
      |       FROM u JOIN c1 USING (pos) GROUP BY u.vec_id, c1.cid),
      |a2 AS MATERIALIZED (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |         FROM d2) WHERE rn = 1),
      |c2 AS (SELECT a2.cid, u.pos,
      |              (2*sum(u.v) + count(*)
      |               - (((2*sum(u.v) + count(*)) % (2*count(*)) + 2*count(*))
      |                  % (2*count(*)))) // (2*count(*)) AS cq
      |       FROM u JOIN a2 USING (vec_id) GROUP BY a2.cid, u.pos),
      |d3 AS (SELECT u.vec_id, c2.cid,
      |              CAST(sum((u.v - c2.cq) * (u.v - c2.cq)) AS BIGINT) AS dist
      |       FROM u JOIN c2 USING (pos) GROUP BY u.vec_id, c2.cid),
      |a3 AS MATERIALIZED (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |         FROM d3) WHERE rn = 1),
      |vn AS MATERIALIZED (SELECT u.vec_id, a3.cid,
      |              CAST(sum(u.v * u.v) AS BIGINT) AS n2
      |       FROM u JOIN a3 USING (vec_id) GROUP BY u.vec_id, a3.cid),
      |pr AS (SELECT a.vec_id AS va, b.vec_id AS vb, a.cid,
      |              CAST(sum(ua.v * ub.v) AS BIGINT) AS dot,
      |              max(a.n2) AS na2, max(b.n2) AS nb2
      |       FROM vn a JOIN vn b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |       JOIN u ua ON ua.vec_id = a.vec_id
      |       JOIN u ub ON ub.vec_id = b.vec_id AND ua.pos = ub.pos
      |       GROUP BY a.vec_id, b.vec_id, a.cid),
      |qual AS (SELECT va, vb, cid,
      |                CAST(dot AS DOUBLE) /
      |                  (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
      |                  AS cos_raw
      |         FROM pr
      |         WHERE CAST(dot AS DOUBLE) /
      |                 (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
      |               >= CAST('0.45' AS DOUBLE)),
      |dr AS (SELECT vb AS vec_id, cid, va, cos_raw,
      |              row_number() OVER (PARTITION BY vb ORDER BY va) AS rn
      |       FROM qual)
      |SELECT vec_id, cid, va AS kept_id, round(cos_raw, 4) AS cos_sim
      |FROM dr WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  /** Sort a (long id, array<long> vec) centroid frame into literal
    * arrays and add column `outCol` = the argmin-square-distance id to
    * `vecs` — the broadcast-k-means assignment with the broadcast
    * realized as one codegen'd literal kernel (bounded by the k ≤ 4096
    * cap: ≤ 2 MB of longs, the PQ-codebook class of driver collect).
    * Ties resolve to the lowest id (the kernel takes the strict-first
    * min over id-sorted rows).
    */
  private def assignByLiteral(vecs: DataFrame, cents: DataFrame,
      vecCol: String, outCol: String): DataFrame = {
    val rows = cents.collect().sortBy(_.getLong(0))
    val ids = rows.map(_.getLong(0))
    val flat = rows.flatMap(_.getSeq[Long](1))
    vecs.withColumn(outCol, element_at(lit(ids),
      graft.plans.FloatVectorExpressions.argMinSqDistI64(col(vecCol), lit(flat)) + 1))
  }

  /** One Lloyd layer over an arbitrary (long id, array<long> vec)
    * frame: deterministic init = the k lowest ids (TakeOrdered, no
    * global sort), 2 assign/update rounds, centroids returned as
    * (cid, cq) with the kmeansAssign integer half-up mean identity.
    * Reused at BOTH levels of q163's two-level quantizer — over the
    * training sample (k centroids) and over the centroids themselves
    * (√k super-centroids).
    */
  private def lloydCentroids(corpus: DataFrame, k: Int): DataFrame = {
    import corpus.sparkSession.implicits._
    val Seq(idc, vc) = corpus.columns.toSeq
    val init = corpus.orderBy(col(idc)).limit(k)
      .select(col(idc).as("cid"), col(vc).as("cq"))
    def step(cents: DataFrame): DataFrame =
      assignByLiteral(corpus, cents, vc, "cid")
        .select($"cid", posexplode(col(vc)).as(Seq("pos", "v")))
        .groupBy($"cid", $"pos")
        .agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .withColumn("cq",
          expr("(2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) div (2*n)"))
        .groupBy($"cid")
        .agg(transform(array_sort(collect_list(struct($"pos", $"cq"))),
          s => s("cq")).as("cq"))
        .ckpt()
    step(step(init))
  }

  /** q163: SemDeDup with the production-scale assignment path — what
    * q135's scaladoc used to promise and defer. Two changes vs q135,
    * both from the published playbook (Abbas et al. SemDeDup train
    * their clustering on a corpus subset; the two-level coarse
    * quantizer is the standard IVF pruning layout):
    *
    *  1. SAMPLED TRAIN — Lloyd runs on a deterministic hash sample of
    *     ~32 vectors per centroid (md5(vec_id) mod ⌊n/(32k)⌋ = 0; no
    *     RNG state, so reruns/backfills regenerate identical
    *     centroids). With q135's k = n/128 policy that is a constant
    *     1/4 of the corpus below the k cap — the gate exercises true
    *     subsampling at EVERY scale factor — and past the cap training
    *     cost stays O(32·k·k) flat while q135's full-corpus Lloyd
    *     grows O(N·k). 32 points per centroid is ample for a dedup
    *     partitioner (the quantizer only buckets; τ does the deciding).
    *  2. PRUNED ASSIGN — a second Lloyd over the k centroids yields
    *     ⌈√k⌉ super-centroids; each corpus vector finds its super-cell
    *     by a √k-wide argmin literal kernel (row-local), then argmins
    *     only over the centroids homed to that cell — O(N·√k) distance
    *     work instead of O(N·k), the IVF nprobe=1 shape. A vector whose
    *     true nearest centroid is homed to a neighbouring super-cell
    *     can be mis-assigned — SemDeDup's own cross-cluster blind spot,
    *     one level up; acceptable for dedup (misses, never corrupts),
    *     and the DuckDB twin implements the identical two-level rule,
    *     so the oracle gate pins the algorithm bit-for-bit at every SF.
    *
    * Everything else (integer-millis grid, half-up centroid snapping,
    * τ-prune, keep-earliest, oversize guard) is shared with q135 —
    * byte-identical via pruneWithinClusters.
    */
  def q163SemdedupScaled(spark: SparkSession, dir: String): DataFrame =
    semanticDedupScaled(spark, dir, tau = 0.45)

  private[graft] def semanticDedupScaled(spark: SparkSession, dir: String,
      tau: Double = 0.85, kCap: Int = 4096, samplePerCentroid: Int = 32,
      maxCluster: Long = 16384L): DataFrame = {
    import spark.implicits._
    val n = Tables(spark, dir).embeddings.count()
    val k = math.min(kCap.toLong, math.max(4L, n / 128L)).toInt
    val sMod = math.max(1L, n / (samplePerCentroid.toLong * k))
    val eq = Tables(spark, dir).embeddings
      .select($"vec_id", graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"))
      .ckpt()
    val sample = eq.filter(pmod(
      conv(substring(md5($"vec_id".cast("string")), 1, 15), 16, 10).cast("long"),
      lit(sMod)) === 0)
    val cents = lloydCentroids(sample.select($"vec_id", $"eq"), k)
    val kp = math.ceil(math.sqrt(k.toDouble)).toInt
    val supers = lloydCentroids(cents.select($"cid".as("id"), $"cq".as("vec")), kp)
    val centCell = assignByLiteral(cents, supers, "cq", "scid")
      .select($"scid", $"cid", $"cq",
        graft.plans.FloatVectorExpressions.normSqI64($"cq").as("c2"))
    val vecCell = assignByLiteral(eq, supers, "eq", "scid")
      .select($"vec_id", $"eq", $"scid",
        graft.plans.FloatVectorExpressions.normSqI64($"eq").as("n2"))
    // O(N·√k): the broadcast join fans each vector out to its cell's
    // centroids only; the argmin fold collapses map-side (grouping key
    // = the row's own vec_id), so the shuffle carries N rows, not N·√k.
    // first() over eq/n2 is safe: every row of a vec_id group carries
    // the identical value.
    val assigned = vecCell.join(broadcast(centCell), "scid")
      .select($"vec_id", $"eq", $"n2", $"cid",
        ($"n2" + $"c2" -
          lit(2L) * graft.plans.FloatVectorExpressions.dotI64($"eq", $"cq"))
          .as("dist"))
      .groupBy($"vec_id")
      .agg(min(struct($"dist", $"cid")).as("m"),
        first($"eq").as("eq"), first($"n2").as("n2"))
      .select($"vec_id", $"m.cid".as("cid"), $"eq", $"n2")
      .ckpt()
    pruneWithinClusters(assigned, tau, maxCluster)
  }

  /** DuckDB twin of the full two-level algorithm: sample by the same
    * md5-mod rule, two unrolled Lloyd rounds on the sample, two more on
    * the centroids for the super layer, nprobe=1 cell assignment, then
    * q135's within-cluster prune verbatim.
    */
  val q163Sql: String = {
    val md5int = (e: String) =>
      s"(${(1 to 15).map { j =>
        val mult = 1L << (4 * (15 - j))
        s"(strpos('0123456789abcdef', substr(md5($e), $j, 1)) - 1) * $mult"
      }.mkString(" + ")})"
    val ctrUpd = (sumE: String, cntE: String) =>
      s"(2*$sumE + $cntE - (((2*$sumE + $cntE) % (2*$cntE) + 2*$cntE) % (2*$cntE))) // (2*$cntE)"
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      |kk AS (
      |  SELECT LEAST(4096, GREATEST(4, n // 128)) AS k,
      |         GREATEST(1, n // (32 * LEAST(4096, GREATEST(4, n // 128)))) AS smod,
      |         CAST(ceil(sqrt(LEAST(4096, GREATEST(4, n // 128)))) AS BIGINT) AS kp
      |  FROM nn),
      |u AS MATERIALIZED (
      |  SELECT vec_id,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS v,
      |         generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings),
      |samp AS MATERIALIZED (
      |  SELECT vec_id FROM embeddings CROSS JOIN kk
      |  WHERE ${md5int("CAST(vec_id AS VARCHAR)")} % smod = 0),
      |su AS MATERIALIZED (SELECT u.* FROM u JOIN samp USING (vec_id)),
      |initids AS (
      |  SELECT vec_id FROM (
      |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM samp)
      |  CROSS JOIN kk WHERE rn <= k),
      |c0 AS (SELECT su.vec_id AS cid, pos, v AS cq
      |       FROM su JOIN initids USING (vec_id)),
      |d1 AS (SELECT su.vec_id, c0.cid,
      |              CAST(sum((su.v - c0.cq) * (su.v - c0.cq)) AS BIGINT) AS dist
      |       FROM su JOIN c0 USING (pos) GROUP BY su.vec_id, c0.cid),
      |a1 AS (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |         FROM d1) WHERE rn = 1),
      |c1 AS (SELECT a1.cid, su.pos, ${ctrUpd("sum(su.v)", "count(*)")} AS cq
      |       FROM su JOIN a1 USING (vec_id) GROUP BY a1.cid, su.pos),
      |d2 AS (SELECT su.vec_id, c1.cid,
      |              CAST(sum((su.v - c1.cq) * (su.v - c1.cq)) AS BIGINT) AS dist
      |       FROM su JOIN c1 USING (pos) GROUP BY su.vec_id, c1.cid),
      |a2 AS (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |         FROM d2) WHERE rn = 1),
      |c2 AS MATERIALIZED (SELECT a2.cid, su.pos, ${ctrUpd("sum(su.v)", "count(*)")} AS cq
      |       FROM su JOIN a2 USING (vec_id) GROUP BY a2.cid, su.pos),
      |sinit AS (
      |  SELECT cid FROM (
      |    SELECT cid, row_number() OVER (ORDER BY cid) AS rn
      |    FROM (SELECT DISTINCT cid FROM c2))
      |  CROSS JOIN kk WHERE rn <= kp),
      |s0 AS (SELECT c2.cid AS scid, pos, cq AS sq FROM c2 JOIN sinit USING (cid)),
      |sd1 AS (SELECT c2.cid, s0.scid,
      |               CAST(sum((c2.cq - s0.sq) * (c2.cq - s0.sq)) AS BIGINT) AS dist
      |        FROM c2 JOIN s0 USING (pos) GROUP BY c2.cid, s0.scid),
      |sa1 AS (SELECT cid, scid FROM (
      |          SELECT cid, scid,
      |                 row_number() OVER (PARTITION BY cid ORDER BY dist, scid) AS rn
      |          FROM sd1) WHERE rn = 1),
      |s1 AS (SELECT sa1.scid, c2.pos, ${ctrUpd("sum(c2.cq)", "count(*)")} AS sq
      |       FROM c2 JOIN sa1 USING (cid) GROUP BY sa1.scid, c2.pos),
      |sd2 AS (SELECT c2.cid, s1.scid,
      |               CAST(sum((c2.cq - s1.sq) * (c2.cq - s1.sq)) AS BIGINT) AS dist
      |        FROM c2 JOIN s1 USING (pos) GROUP BY c2.cid, s1.scid),
      |sa2 AS (SELECT cid, scid FROM (
      |          SELECT cid, scid,
      |                 row_number() OVER (PARTITION BY cid ORDER BY dist, scid) AS rn
      |          FROM sd2) WHERE rn = 1),
      |s2 AS MATERIALIZED (SELECT sa2.scid, c2.pos, ${ctrUpd("sum(c2.cq)", "count(*)")} AS sq
      |       FROM c2 JOIN sa2 USING (cid) GROUP BY sa2.scid, c2.pos),
      |cd AS (SELECT c2.cid, s2.scid,
      |              CAST(sum((c2.cq - s2.sq) * (c2.cq - s2.sq)) AS BIGINT) AS dist
      |       FROM c2 JOIN s2 USING (pos) GROUP BY c2.cid, s2.scid),
      |ca AS (SELECT cid, scid FROM (
      |         SELECT cid, scid,
      |                row_number() OVER (PARTITION BY cid ORDER BY dist, scid) AS rn
      |         FROM cd) WHERE rn = 1),
      |vd AS (SELECT u.vec_id, s2.scid,
      |              CAST(sum((u.v - s2.sq) * (u.v - s2.sq)) AS BIGINT) AS dist
      |       FROM u JOIN s2 USING (pos) GROUP BY u.vec_id, s2.scid),
      |va AS MATERIALIZED (SELECT vec_id, scid FROM (
      |         SELECT vec_id, scid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, scid) AS rn
      |         FROM vd) WHERE rn = 1),
      |ad AS (SELECT u.vec_id, ca.cid,
      |              CAST(sum((u.v - c2.cq) * (u.v - c2.cq)) AS BIGINT) AS dist
      |       FROM u JOIN va USING (vec_id)
      |       JOIN ca ON ca.scid = va.scid
      |       JOIN c2 ON c2.cid = ca.cid AND c2.pos = u.pos
      |       GROUP BY u.vec_id, ca.cid),
      |a3 AS (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |         FROM ad) WHERE rn = 1),
      |vn AS MATERIALIZED (SELECT u.vec_id, a3.cid,
      |              CAST(sum(u.v * u.v) AS BIGINT) AS n2
      |       FROM u JOIN a3 USING (vec_id) GROUP BY u.vec_id, a3.cid),
      |pr AS (SELECT a.vec_id AS va, b.vec_id AS vb, a.cid,
      |              CAST(sum(ua.v * ub.v) AS BIGINT) AS dot,
      |              max(a.n2) AS na2, max(b.n2) AS nb2
      |       FROM vn a JOIN vn b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |       JOIN u ua ON ua.vec_id = a.vec_id
      |       JOIN u ub ON ub.vec_id = b.vec_id AND ua.pos = ub.pos
      |       GROUP BY a.vec_id, b.vec_id, a.cid),
      |qual AS (SELECT va, vb, cid,
      |                CAST(dot AS DOUBLE) /
      |                  (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
      |                  AS cos_raw
      |         FROM pr
      |         WHERE CAST(dot AS DOUBLE) /
      |                 (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
      |               >= CAST('0.45' AS DOUBLE)),
      |dr AS (SELECT vb AS vec_id, cid, va, cos_raw,
      |              row_number() OVER (PARTITION BY vb ORDER BY va) AS rn
      |       FROM qual)
      |SELECT vec_id, cid, va AS kept_id, round(cos_raw, 4) AS cos_sim
      |FROM dr WHERE rn = 1
      |ORDER BY vec_id""".stripMargin
  }

  /** Filtered vector search: ANN under a metadata predicate — the
    * production vector-retrieval shape (a RAG query is never "nearest
    * anywhere", it's "nearest among docs passing lang/date/source/ACL
    * filters"). The predicate runs on the DOCUMENT side and reaches the
    * parquet scan as a pushed filter; survivors semi-join the embedding
    * table on id, and only that pre-filtered stream pays the dot
    * product. Post-filtering an unfiltered top-k is WRONG under
    * selective predicates (the true top-k may lie entirely outside an
    * unfiltered candidate set); this is the exact-under-filter form.
    */
  def q110FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keep = Tables(spark, dir).documents
      .filter($"lang" === "en" && $"n_chars" >= 500)
      .select($"doc_id")
    val e = withNorm(spark, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    e.filter($"vec_id" =!= 0)
      .join(keep, $"vec_id" === $"doc_id", "left_semi")
      .crossJoin(broadcast(q))
      .select($"vec_id",
        (VectorOps.dot($"embedding", $"q_emb") / ($"nrm" * $"q_nrm")).as("cos_raw"))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(10)
      .select($"vec_id", round($"cos_raw", 4).as("cos_sim"))
  }

  val q110Sql: String =
    """WITH keep AS (
      |  SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 500),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |d AS (SELECT e.vec_id, e.embedding AS ee, q.qe
      |      FROM embeddings e CROSS JOIN q
      |      WHERE e.vec_id <> 0
      |        AND EXISTS (SELECT 1 FROM keep WHERE keep.doc_id = e.vec_id)),
      |u AS (SELECT vec_id, CAST(unnest(ee) AS DOUBLE) AS x,
      |             CAST(unnest(qe) AS DOUBLE) AS y FROM d),
      |s AS (SELECT vec_id, sum(x * y) AS dot, sqrt(sum(x * x)) AS ne,
      |             sqrt(sum(y * y)) AS nq
      |      FROM u GROUP BY vec_id)
      |SELECT vec_id, round(dot / (ne * nq), 4) AS cos_sim
      |FROM s
      |ORDER BY dot / (ne * nq) DESC, vec_id
      |LIMIT 10""".stripMargin

  /** Hybrid retrieval: keyword and vector rankings fused with
    * reciprocal-rank fusion (RRF, k=60) — the standard two-tower
    * retrieval merge. Query = document 0 (its token set for the keyword
    * leg, its embedding for the vector leg). The keyword score is the
    * integer idf-bits sum over shared DISTINCT tokens (the q70 idf with
    * the q67 floor-log2); both legs rank with total-order tie-breaks
    * and fuse as integer micro-points 10⁶ div (60 + rank), so the
    * whole pipeline stays integer-exact after the one rounded cosine.
    *
    * Shape: keyword leg = one token-explode shuffle against a
    * vocab-sized df broadcast; vector leg = q24's row-local broadcast
    * dot; fusion joins two id-keyed rank frames.
    */
  def q111HybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    // the distinct token stream feeds the df table, the query tokens,
    // and the candidate stream — publish it once (q89 pattern)
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("tok"))
      .distinct()
      .ckpt()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val df = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
    val qtoks = toks.filter($"doc_id" === 0).select($"tok")
    val kw = toks.filter($"doc_id" =!= 0)
      .join(qtoks, "tok") // shared tokens only
      .join(df, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_bits", (length(bin(expr("n_docs div df"))) - 1).cast("long"))
      .groupBy($"doc_id")
      .agg(sum($"idf_bits").as("kw_score"))
    // each leg is capped to its top-1000 candidates BEFORE the global
    // rank window (TakeOrderedAndProject; bounded single-task sort) —
    // RRF over per-leg top-k is the standard form, and an uncapped
    // global row_number would be a corpus-sized single-partition sort
    val kwRank = kw
      .orderBy($"kw_score".desc, $"doc_id".asc).limit(1000)
      .withColumn("rank_kw",
        row_number().over(Window.orderBy($"kw_score".desc, $"doc_id".asc)))
    val e = withNorm(spark, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    val vecRank = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id".as("doc_id"),
        round(VectorOps.dot($"embedding", $"q_emb") / ($"nrm" * $"q_nrm"), 6)
          .as("cos_sim"))
      .orderBy($"cos_sim".desc, $"doc_id".asc).limit(1000)
      .withColumn("rank_vec",
        row_number().over(Window.orderBy($"cos_sim".desc, $"doc_id".asc)))
    kwRank.join(vecRank, "doc_id")
      .withColumn("rrf_micro",
        expr("1000000 div (60 + rank_kw) + 1000000 div (60 + rank_vec)"))
      .select($"doc_id", $"kw_score",
        $"rank_kw".cast("long").as("rank_kw"),
        $"rank_vec".cast("long").as("rank_vec"), $"rrf_micro")
      .orderBy($"rrf_micro".desc, $"doc_id")
      .limit(10)
  }

  val q111Sql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM documents),
      |df AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
      |qt AS (SELECT tok FROM toks WHERE doc_id = 0),
      |kw AS (
      |  SELECT t.doc_id,
      |         CAST(sum(length(bin(n_docs // df)) - 1) AS BIGINT) AS kw_score
      |  FROM toks t JOIN qt USING (tok) JOIN df USING (tok) CROSS JOIN nd
      |  WHERE t.doc_id <> 0 GROUP BY t.doc_id),
      |kwtop AS (SELECT * FROM kw ORDER BY kw_score DESC, doc_id ASC
      |          LIMIT 1000),
      |kr AS (SELECT doc_id, kw_score,
      |              row_number() OVER (ORDER BY kw_score DESC, doc_id ASC)
      |                AS rank_kw FROM kwtop),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |u AS (SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x,
      |             CAST(unnest(q.qe) AS DOUBLE) AS y
      |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
      |s AS (SELECT vec_id AS doc_id,
      |             round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
      |               AS cos_sim
      |      FROM u GROUP BY vec_id),
      |stop AS (SELECT * FROM s ORDER BY cos_sim DESC, doc_id ASC
      |         LIMIT 1000),
      |vr AS (SELECT doc_id, cos_sim,
      |              row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC)
      |                AS rank_vec FROM stop)
      |SELECT kr.doc_id, kw_score,
      |  CAST(rank_kw AS BIGINT) AS rank_kw,
      |  CAST(rank_vec AS BIGINT) AS rank_vec,
      |  CAST(1000000 // (60 + rank_kw) + 1000000 // (60 + rank_vec) AS BIGINT)
      |    AS rrf_micro
      |FROM kr JOIN vr ON kr.doc_id = vr.doc_id
      |ORDER BY rrf_micro DESC, kr.doc_id
      |LIMIT 10""".stripMargin

  /** q137: k-NN graph construction over the embedding corpus — the
    * shared upstream of graph-based curation (SemDeDup neighborhoods,
    * kNN-density quality scoring, label propagation, diversity
    * sampling). Each vector gets its k=3 nearest neighbors by cosine
    * WITHIN its coarse-quantizer cell (the fixture's `label` — the same
    * IVF-cell role it plays for q25): block-local exact search is
    * exactly how production kNN-graph builds run at scale (kNN within
    * IVF/k-means cells, optionally cross-probing adjacent cells), and
    * block sizes stay bounded as the corpus grows because the quantizer
    * grows with it (q135's k ∝ n policy). The join is a hash
    * equi-join on the cell id — never a cross join — and the per-vector
    * top-k is a WindowGroupLimit (rank ≤ k pushed into the sort), so
    * pair volume is Σ|cell|² bounded by the q23-style guard below.
    *
    * Exactness: embeddings quantize once to the integer-millis grid
    * (q99/q135 precedent) so dot products and norms are exact long
    * sums — order-independent, no fp summation drift; the cosine is one
    * IEEE division/sqrt over identical integers on both engines, hence
    * bit-identical, and ships unrounded (no-round-on-exact-inputs
    * policy). Ties (exact duplicate vectors at equal cosine) break to
    * the smaller neighbor id.
    */
  def q137KnnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraph(spark, dir, k = 3, maxBlock = 16384L)

  private[graft] def knnGraph(spark: SparkSession, dir: String,
      k: Int, maxBlock: Long): DataFrame =
    knnGraphOf(Tables(spark, dir).embeddings, k, maxBlock)

  /** Frame-level core over (vec_id, label, embedding FLOAT[]). */
  private[graft] def knnGraphOf(emb: DataFrame, k: Int,
      maxBlock: Long): DataFrame = {
    import emb.sparkSession.implicits._
    val e = emb
      .select($"vec_id", $"label",
        graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"))
      .select($"vec_id", $"label", $"eq",
        graft.plans.FloatVectorExpressions.normSqI64($"eq").as("n2"))
      .ckpt() // guard aggregate + both self-join sides re-read this
    val oversized = e.groupBy($"label").agg(count(lit(1)).as("cn"))
      .filter($"cn" > maxBlock).take(1)
    require(oversized.isEmpty, {
      val r = oversized.head
      s"cell ${r.get(0)} holds ${r.get(1)} vectors (> $maxBlock): " +
        "within-cell kNN is O(cell^2) - refine the quantizer (q135's " +
        "k-means) or route through the SRP-LSH candidate path (q60)"
    })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"cos_sim".desc, $"nbr_id")
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        (graft.plans.FloatVectorExpressions.dotI64(col("a.eq"), col("b.eq"))
          .cast("double") /
          (sqrt(col("a.n2").cast("double")) * sqrt(col("b.n2").cast("double"))))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"vec_id", $"rank", $"nbr_id", $"cos_sim")
      .orderBy($"vec_id", $"rank")
  }

  val q137Sql: String =
    """WITH q AS (
      |  SELECT vec_id, label,
      |         [CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) FOR x IN embedding]
      |           AS eq
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, a.eq AS ea, b.eq AS eb
      |  FROM q a JOIN q b ON a.label = b.label AND a.vec_id <> b.vec_id),
      |u AS (SELECT vec_id, nbr_id, unnest(ea) AS x, unnest(eb) AS y FROM p),
      |s AS (SELECT vec_id, nbr_id, sum(x * y) AS dot,
      |             sum(x * x) AS na, sum(y * y) AS nb
      |      FROM u GROUP BY 1, 2),
      |c AS (
      |  SELECT vec_id, nbr_id,
      |    CAST(dot AS DOUBLE)
      |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos_sim
      |  FROM s),
      |r AS (
      |  SELECT vec_id, nbr_id, cos_sim,
      |    CAST(row_number() OVER (PARTITION BY vec_id
      |                            ORDER BY cos_sim DESC, nbr_id) AS BIGINT) AS rank
      |  FROM c)
      |SELECT vec_id, rank, nbr_id, cos_sim
      |FROM r WHERE rank <= 3
      |ORDER BY vec_id, rank""".stripMargin

  /** q141: pairwise-cosine spectrum of the embedding corpus — the
    * threshold-calibration diagnostic every near-dup deployment needs
    * BEFORE picking its τ. (Rounds 8–9 re-calibrated q23/q135 by hand
    * when a regenerated fixture shifted the corpus's max pairwise cosine
    * from ~0.99 to 0.51; this operator is that measurement, productized:
    * run it once per corpus generation and read the histogram's upper
    * tail.) Exhaustive O(N²) pairing is impossible at scale, so pairs
    * are sampled by a deterministic hash-bucket join: each vector lands
    * in one of ⌈N/8⌉ buckets via a bit-mixed integer hash (Knuth
    * multiplicative — portable exact int64 arithmetic, no engine hash),
    * only within-bucket pairs are scored — expected bucket size stays 8
    * as N grows, so pair volume is LINEAR in N and the sample is
    * unbiased for the bulk spectrum (planted near-dup pairs are caught
    * by the dedicated dedup queries, not this diagnostic). One
    * bucket-keyed shuffle; the histogram aggregate is ≤ 41 rows.
    * Cosines are exact integer-millis sums (q99 grid); bin share is an
    * exact-int ratio emitted unrounded.
    */
  def q141CosineSpectrum(spark: SparkSession, dir: String): DataFrame =
    cosineSpectrumOf(Tables(spark, dir).embeddings)

  /** Frame-level core over (vec_id, embedding FLOAT[]). */
  private[graft] def cosineSpectrumOf(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val nBuckets = math.max(1L, emb.count() / 8L)
    val e = emb
      .select($"vec_id",
        graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"),
        (($"vec_id" * lit(2654435761L)) % lit(2147483648L) % nBuckets).as("bkt"))
      .ckpt()
    val hist = e.as("a").join(e.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
      .select(
        (graft.plans.FloatVectorExpressions.dotI64(col("a.eq"), col("b.eq"))
          .cast("double") /
          (sqrt(graft.plans.FloatVectorExpressions.normSqI64(col("a.eq")).cast("double")) *
            sqrt(graft.plans.FloatVectorExpressions.normSqI64(col("b.eq")).cast("double"))))
          .as("cos_raw"))
      .select(floor($"cos_raw" * 20).cast("long").as("bin_idx"))
      .groupBy($"bin_idx").agg(count(lit(1)).as("n_pairs"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)) // histogram frame: ≤ 41 rows, single partition is the point
    hist
      .withColumn("share",
        $"n_pairs".cast("double") / sum($"n_pairs").over(wAll))
      .select($"bin_idx", ($"bin_idx".cast("double") / 20.0).as("bin_lo"),
        $"n_pairs", $"share")
      .orderBy($"bin_idx")
  }

  val q141Sql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |         [CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) FOR x IN embedding]
      |           AS eq
      |  FROM embeddings),
      |b AS (
      |  SELECT vec_id, eq,
      |    ((vec_id * 2654435761) % 2147483648)
      |      % greatest(1, (SELECT count(*) FROM q) // 8) AS bkt
      |  FROM q),
      |p AS (
      |  SELECT a.vec_id AS va, b2.vec_id AS vb, a.eq AS ea, b2.eq AS eb
      |  FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id),
      |u AS (SELECT va, vb, unnest(ea) AS x, unnest(eb) AS y FROM p),
      |s AS (SELECT va, vb, sum(x * y) AS dot,
      |             sum(x * x) AS na, sum(y * y) AS nb
      |      FROM u GROUP BY 1, 2),
      |c AS (
      |  SELECT CAST(floor(CAST(dot AS DOUBLE)
      |    / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) * 20) AS BIGINT)
      |    AS bin_idx
      |  FROM s),
      |h AS (SELECT bin_idx, CAST(count(*) AS BIGINT) AS n_pairs
      |      FROM c GROUP BY 1)
      |SELECT bin_idx, CAST(bin_idx AS DOUBLE) / 20.0 AS bin_lo, n_pairs,
      |  CAST(n_pairs AS DOUBLE) / (SELECT sum(n_pairs) FROM h) AS share
      |FROM h
      |ORDER BY bin_idx""".stripMargin

  /** q145: embedding covariance/correlation matrix — the drift and
    * whitening diagnostic a training-data pipeline runs per corpus
    * snapshot (is the embedding space collapsing? which dimensions are
    * redundant?).
    *
    * Scale shape: ONE pass over the corpus through the Gram aggregator
    * (graft.functions.Gram) — each partition folds its vectors into a
    * single exact-integer buffer (n, Σx, upper-triangle Σx·x), partials
    * merge by elementwise addition, and everything downstream (index
    * arithmetic, cov/corr finishing) runs on d(d+1)/2 = 2,080-row
    * frames that never touch the corpus again. The naive
    * posexplode-self-join states the same answer but shuffles 2,080
    * rows PER VECTOR — that contrast is the oracle, which is free to be
    * naive at sf0.01.
    *
    * Exactness: vectors quantize to the q99 integer-millis grid, so
    * cov_num = n·Σxy − Σx·Σy is exact int64 (order-free merges) WHILE
    * the corpus sits below [[graft.functions.Gram.covExactSafe]] —
    * 2·(n·max|x|)² ≤ Long.MaxValue/2, n ≈ 1.5·10⁶ unit-scale vectors;
    * every tested decade is far inside it. Past the bound (r19, the
    * q195 exactDistSafe treatment — this fold previously claimed
    * exactness unconditionally: the ANSI finish would THROW at the
    * 100 TB design ceiling, and the JVM-side Gram partials wrap
    * silently past their own n·max|x|² bound) the finish swaps to the
    * double carrier the SAME Gram pass accumulated: cov_num reports
    * NULL, corr runs on the non-wrapping doubles. The lane guard is a driver read of the
    * 1-row (n, max|x|) frame. In the exact lane corr divides exact
    * ints in IEEE double (same two sqrt/one divide in both engines)
    * and rounds once — bit-identical cross-engine; the oracle is only
    * compared below the bound (its BIGINT arithmetic errors loudly
    * past it under DuckDB's ANSI overflow).
    */
  def q145EmbedCovariance(spark: SparkSession, dir: String): DataFrame =
    covarianceOf(Tables(spark, dir).embeddings)

  /** Upper-triangle covariance numerators from ONE corpus pass through
    * the Gram aggregator. Shared core of q145 (cov/corr finishing) and
    * q151 (power iteration). Emits (i, j, cov_num, cov_d):
    *
    *   - exact lane (the tested decades): cov_num = n·Σxy − Σx·Σy in
    *     exact int64, cov_d its one double cast — bit-identical
    *     cross-engine;
    *   - double lane (past [[graft.functions.Gram.covExactSafe]], the
    *     100 TB regime where the int64 finish would wrap silently):
    *     cov_num is NULL (the q195 msd-lane contract — never report a
    *     wrapped integer) and cov_d is the double-carrier finish,
    *     deterministic up to partial-merge ulps.
    *
    * The lane guard reads (n, max|x|) off the ckpt'd 1-row Gram frame —
    * a driver read, never a second corpus pass (the dual carriers ride
    * the SAME fold, graft.functions.Gram).
    */
  private def gramFrame(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb
      // pin the null contract: GramAgg already skips null vectors, so n
      // must count non-null embeddings on BOTH engine legs (a NULL row
      // would otherwise inflate the oracle's n but not the Spark one)
      .filter($"embedding".isNotNull)
      .select(graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"))
      .agg(graft.functions.Gram.gramAgg($"eq").as("g"))
      .select($"g.n".as("n"), $"g.mx".as("mx"),
        $"g.sums".as("sums"), $"g.prods".as("prods"),
        $"g.sumsD".as("sumsD"), $"g.prodsD".as("prodsD"))
      .ckpt() // 1 row; pins the corpus pass so the fan-outs below reuse it
  }

  private def covLaneOf(g: DataFrame,
      forceExactLane: Option[Boolean]): Boolean =
    forceExactLane.getOrElse {
      import g.sparkSession.implicits._
      val r = g.select($"n", $"mx").head
      graft.functions.Gram.covExactSafe(r.getLong(0), r.getLong(1))
    }

  private def covNumsFromGram(g: DataFrame, exactLane: Boolean): DataFrame = {
    import g.sparkSession.implicits._
    if (exactLane) {
      val sums = g.select($"n", size($"sums").as("d"),
        posexplode($"sums").as(Seq("i", "sx")))
      val prods = g.select(posexplode($"prods").as(Seq("flat", "sxy")))
      val ij = sums.select($"n", $"d", $"i", $"sx".as("sx_i"))
        .crossJoin(sums.select($"i".as("j"), $"sx".as("sx_j")))
        .filter($"i" <= $"j")
        .withColumn("flat", expr("i * d - (i * (i - 1)) div 2 + (j - i)"))
      ij.join(prods, "flat")
        .select($"i", $"j",
          ($"n" * $"sxy" - $"sx_i" * $"sx_j").as("cov_num"))
        .withColumn("cov_d", $"cov_num".cast("double"))
    } else {
      val sums = g.select($"n".cast("double").as("nd"),
        size($"sumsD").as("d"),
        posexplode($"sumsD").as(Seq("i", "sx")))
      val prods = g.select(posexplode($"prodsD").as(Seq("flat", "sxy")))
      val ij = sums.select($"nd", $"d", $"i", $"sx".as("sx_i"))
        .crossJoin(sums.select($"i".as("j"), $"sx".as("sx_j")))
        .filter($"i" <= $"j")
        .withColumn("flat", expr("i * d - (i * (i - 1)) div 2 + (j - i)"))
      ij.join(prods, "flat")
        .select($"i", $"j", lit(null).cast("long").as("cov_num"),
          ($"nd" * $"sxy" - $"sx_i" * $"sx_j").as("cov_d"))
    }
  }

  private[graft] def covNums(emb: DataFrame,
      forceExactLane: Option[Boolean] = None): DataFrame = {
    val g = gramFrame(emb)
    covNumsFromGram(g, covLaneOf(g, forceExactLane))
  }

  private[graft] def covarianceOf(emb: DataFrame,
      forceExactLane: Option[Boolean] = None): DataFrame = {
    import emb.sparkSession.implicits._
    val cov = covNums(emb, forceExactLane)
    // corr runs on cov_d in BOTH lanes: in the exact lane cov_d IS the
    // double cast of the exact int64 the oracle divides (bit-identical
    // to the pre-lane form); in the double lane it is the non-wrapping
    // carrier and cov_num is NULL
    val vars = cov.filter($"i" === $"j").select($"i".as("k"), $"cov_d".as("var_d"))
    cov
      .join(broadcast(vars).withColumnRenamed("k", "i")
        .withColumnRenamed("var_d", "var_i"), "i")
      .join(broadcast(vars).withColumnRenamed("k", "j")
        .withColumnRenamed("var_d", "var_j"), "j")
      .select($"i".cast("long").as("i"), $"j".cast("long").as("j"), $"cov_num",
        when($"var_i" > 0 && $"var_j" > 0,
          round($"cov_d" / (sqrt($"var_i") * sqrt($"var_j")), 6))
          .as("corr"))
      .orderBy($"i", $"j")
  }

  val q145Sql: String =
    """WITH u AS (
      |  SELECT vec_id, unnest(range(len(embedding))) AS i,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |nn AS (SELECT count(*) AS n FROM embeddings WHERE embedding IS NOT NULL),
      |s AS (SELECT i, CAST(sum(x) AS BIGINT) AS sx FROM u GROUP BY i),
      |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS sxy
      |      FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
      |      GROUP BY 1, 2),
      |c AS (
      |  SELECT p.i, p.j,
      |         nn.n * p.sxy - si.sx * sj.sx AS cov_num
      |  FROM p
      |  CROSS JOIN nn
      |  JOIN s si ON si.i = p.i
      |  JOIN s sj ON sj.i = p.j),
      |v AS (SELECT i AS k, cov_num AS var_num FROM c WHERE i = j)
      |SELECT c.i, c.j, c.cov_num,
      |  CASE WHEN vi.var_num > 0 AND vj.var_num > 0
      |       THEN round(CAST(c.cov_num AS DOUBLE)
      |            / (sqrt(CAST(vi.var_num AS DOUBLE)) * sqrt(CAST(vj.var_num AS DOUBLE))), 6)
      |       END AS corr
      |FROM c
      |JOIN v vi ON vi.k = c.i
      |JOIN v vj ON vj.k = c.j
      |ORDER BY c.i, c.j""".stripMargin

  /** q151: top principal component of the embedding corpus — the
    * direction that explains the most variance, i.e. the PCA axis a
    * whitening/compression/drift pipeline wants first. Uses q145's
    * one-pass Gram core, then 8 fixed power-iteration rounds on the
    * d×d covariance — corpus data is touched ONCE; the iteration runs
    * on the DRIVER over the collected ≤ d² = 4,096-long shifted matrix
    * (bounded-literal contract, the kmeans-centroid precedent — r19;
    * the former distributed rounds were scheduling overhead over
    * dimension-bounded frames at every corpus scale).
    *
    * Exactness: the naive iteration (doubles, per-group sums) is
    * nondeterministic under partial-aggregate merge order; here every
    * mat-vec is EXACT int64 — the matrix is pre-shifted below 2³⁰ and
    * the vector re-shifted below 2²¹ each round (arithmetic >> is floor
    * division by 2^k in both engines, including negatives), so products
    * stay ≤ 2⁵¹ and the iteration is bit-identical cross-engine. Only
    * the final normalization divides exact ints in IEEE doubles. Sign
    * is fixed by making the largest-|v| entry (ties → lowest dim)
    * positive — eigenvector sign is otherwise arbitrary.
    *
    * Past the [[graft.functions.Gram.covExactSafe]] bound (r19) the
    * covariance numerators ride covNums' double lane: the pre-shift
    * becomes floor(cov_d / 2^sh) with sh from floor(log2(max|cov_d|))
    * — the same floor-division-by-2^k semantics, landing the matrix on
    * the identical <2³⁰ integer grid, after which the iteration is the
    * SAME exact-int64 loop. The double-lane matrix is deterministic
    * given the ckpt'd covariance frame but carries partial-merge ulps
    * (a boundary cell may round differently across runs of the Gram
    * pass itself) — the exact lane's bit-identity claim applies only
    * below the bound, where the oracle is compared.
    */
  def q151TopComponent(spark: SparkSession, dir: String): DataFrame =
    topComponentOf(Tables(spark, dir).embeddings)

  private[graft] def topComponentOf(emb: DataFrame,
      forceExactLane: Option[Boolean] = None): DataFrame = {
    import emb.sparkSession.implicits._
    val g = gramFrame(emb)
    val exactLane = covLaneOf(g, forceExactLane)
    val upper = covNumsFromGram(g, exactLane)
      .ckpt() // ≤ d² rows; pinned for the mirror + 8 rounds
    val full = upper.select($"i", $"j", $"cov_num", $"cov_d")
      .union(upper.filter($"i" =!= $"j")
        .select($"j".as("i"), $"i".as("j"), $"cov_num", $"cov_d"))
    val shC =
      if (exactLane)
        full.agg(
          greatest(lit(0), length(bin(max(abs($"cov_num")))) - 1 - 30).as("sh"))
      else
        full.agg(max(abs($"cov_d")).as("ma"))
          .select(greatest(lit(0L),
            when($"ma" > 0, floor(log2($"ma"))).otherwise(lit(0L)) - 30L)
            .as("sh"))
    val c = full.crossJoin(broadcast(shC))
      .select($"i", $"j",
        (if (exactLane) expr("shiftright(cov_num, sh)")
         else floor($"cov_d" / pow(lit(2.0), $"sh")).cast("long")).as("c"))
    // The 8 power-iteration rounds run on the DRIVER over the collected
    // shifted matrix (r19): every post-Gram frame is DIMENSION-bounded
    // (≤ d² = 4,096 longs — the same bounded-literal contract as the
    // kmeans/ArgMinSqDistI64 centroid collect), so the former
    // distributed loop was 8 rounds × (join + aggregate + ckpt) of
    // scheduled jobs over ≤4,096-row frames — pure per-round scheduling
    // overhead at EVERY corpus scale, with zero distributed work to
    // amortize it (corpus data is touched only by the Gram pass above).
    // The arithmetic is the identical exact-int64 mat-vec / max-abs
    // shift / final normalization, fold order irrelevant (integer
    // sums), so results are bit-identical to the distributed form.
    val cRows = c.collect()
    if (cRows.isEmpty) {
      Seq.empty[(Long, Option[Double])].toDF("dim", "loading")
    } else {
      val d = cRows.iterator.map(_.getInt(0)).max + 1
      val m = Array.ofDim[Long](d, d)
      cRows.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      var v = Array.fill(d)(1000L)
      for (_ <- 1 to 8) {
        val w = new Array[Long](d)
        var i = 0
        while (i < d) {
          var acc = 0L
          var j = 0
          while (j < d) { acc += m(i)(j) * v(j); j += 1 }
          w(i) = acc
          i += 1
        }
        // same shift rule as the DF form: length(bin(max|w|)) − 1 − 20,
        // clamped at 0 (bin(0) = "0" has length 1, so max|w| = 0 → 0)
        val ma = w.iterator.map(math.abs).max
        val sh = math.max(0, java.lang.Long.toBinaryString(ma).length - 1 - 20)
        v = w.map(_ >> sh)
      }
      // sign: largest |v| entry, ties to the lowest dim, made positive
      var best = 0
      var i = 0
      while (i < d) {
        if (math.abs(v(i)) > math.abs(v(best))) best = i
        i += 1
      }
      val sgn = if (v(best) < 0) -1L else 1L
      val n2 = v.iterator.map(x => x * x).sum
      val out = (0 until d).map { j =>
        val loading =
          if (n2 > 0)
            // java.math round = Spark's Round(…, 6) on DoubleType
            Some(java.math.BigDecimal.valueOf(
                (v(j) * sgn).toDouble / math.sqrt(n2.toDouble))
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
          else None
        (j.toLong, loading)
      }
      out.toDF("dim", "loading").orderBy($"dim")
    }
  }

  val q151Sql: String = {
    // every multiply-referenced CTE is pinned MATERIALIZED: DuckDB
    // re-inlines plain CTEs per reference, and 8 chained iterations
    // over a re-inlined scan chain explode the plan (and the file
    // handle count) exponentially
    val iters = (1 to 8).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT c.i, CAST(sum(c.c * v${k - 1}.v) AS BIGINT) AS w
         |  FROM c JOIN v${k - 1} ON v${k - 1}.j = c.j GROUP BY c.i),
         |s$k AS (SELECT greatest(0, length(bin(max(abs(w)))) - 1 - 20) AS sh
         |        FROM w$k),
         |v$k AS MATERIALIZED (SELECT i AS j, w >> sh AS v FROM w$k, s$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH u AS (
      |  SELECT vec_id, unnest(range(len(embedding))) AS i,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |nn AS (SELECT count(*) AS n FROM embeddings WHERE embedding IS NOT NULL),
      |s AS (SELECT i, CAST(sum(x) AS BIGINT) AS sx FROM u GROUP BY i),
      |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS sxy
      |      FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
      |      GROUP BY 1, 2),
      |upper_c AS MATERIALIZED (
      |  SELECT p.i, p.j, nn.n * p.sxy - si.sx * sj.sx AS cov_num
      |  FROM p
      |  CROSS JOIN nn
      |  JOIN s si ON si.i = p.i
      |  JOIN s sj ON sj.i = p.j),
      |fullm AS MATERIALIZED (
      |  SELECT i, j, cov_num FROM upper_c
      |  UNION ALL
      |  SELECT j, i, cov_num FROM upper_c WHERE i <> j),
      |shc AS (SELECT greatest(0, length(bin(max(abs(cov_num)))) - 1 - 30) AS sh
      |        FROM fullm),
      |c AS MATERIALIZED (SELECT i, j, cov_num >> sh AS c FROM fullm, shc),
      |v0 AS MATERIALIZED (SELECT DISTINCT i AS j, 1000::BIGINT AS v FROM fullm),
      |$iters,
      |sgnrow AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn
      |           FROM v8 ORDER BY abs(v) DESC, j LIMIT 1),
      |nrm AS (SELECT CAST(sum(v * v) AS BIGINT) AS n2 FROM v8)
      |SELECT v8.j AS dim,
      |  CASE WHEN nrm.n2 > 0
      |       THEN round(CAST(v8.v * sgnrow.sgn AS DOUBLE)
      |                  / sqrt(CAST(nrm.n2 AS DOUBLE)), 6) END AS loading
      |FROM v8, sgnrow, nrm
      |ORDER BY dim""".stripMargin
  }

  /** q157: per-label variance profile — the grouped form of q145's
    * Gram pass: ONE corpus scan folds each label's vectors into its own
    * exact-integer Gram buffer (the aggregator composes under groupBy —
    * partials merge per label), then each label reports its total
    * variance (trace), its top-variance dimension, and that dimension's
    * share of the trace. The "is this class collapsing to one axis?"
    * diagnostic for embedding quality per data slice.
    *
    * Exactness: var_num = n·Σx² − (Σx)² per (label, dim) in exact
    * int64 WHILE every label sits below
    * [[graft.functions.Gram.covExactSafe]] (read off the per-label
    * (n, max|x|) columns of the SAME grouped frame — no extra pass);
    * the share divides exact ints once and the result is bit-identical
    * cross-engine. Past the bound (r19) the finish rides the Gram
    * pass's double carriers: top_var_num/trace_num report NULL (the
    * q195 contract — never a wrapped or ANSI-throwing integer), the
    * rank runs on each lane's NATIVE key, and top_share divides the
    * non-wrapping doubles. Top-dim ties break to the lowest dimension
    * in both lanes; the oracle is only compared below the bound.
    */
  def q157LabelVariance(spark: SparkSession, dir: String): DataFrame =
    labelVarianceOf(Tables(spark, dir).embeddings)

  private[graft] def labelVarianceOf(emb: DataFrame,
      forceExactLane: Option[Boolean] = None): DataFrame = {
    import emb.sparkSession.implicits._
    val g = emb
      .select($"label",
        graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"))
      .groupBy($"label")
      .agg(graft.functions.Gram.gramAgg($"eq").as("g"))
      .select($"label", $"g.n".as("n"), size($"g.sums").as("d"),
        $"g.mx".as("mx"), $"g.sums".as("sums"), $"g.prods".as("prods"),
        $"g.sumsD".as("sumsD"), $"g.prodsD".as("prodsD"))
      .ckpt() // |labels| rows; pins the one corpus pass across both uses below
    val exactLane = forceExactLane.getOrElse {
      val r = g.agg(max($"n"), max($"mx")).head
      r.isNullAt(0) ||
        graft.functions.Gram.covExactSafe(r.getLong(0), r.getLong(1))
    }
    // variance needs only the diagonal: prods flat index of (i, i) is
    // i*d − i(i−1)/2 — extracted row-locally from the struct arrays
    val perDim =
      if (exactLane)
        g.select($"label", $"n", $"d", posexplode($"sums").as(Seq("i", "sx")))
          .join(g.select($"label", $"prods"), "label")
          .withColumn("pii", expr("prods[i * d - (i * (i - 1)) div 2]"))
          .withColumn("var_num", $"n" * $"pii" - $"sx" * $"sx")
      else
        g.select($"label", $"n", $"d", posexplode($"sumsD").as(Seq("i", "sx")))
          .join(g.select($"label", $"prodsD"), "label")
          .withColumn("pii", expr("prodsD[i * d - (i * (i - 1)) div 2]"))
          .withColumn("var_num", lit(null).cast("long"))
          .withColumn("var_d", $"n".cast("double") * $"pii" - $"sx" * $"sx")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"label")
    val rankKey = if (exactLane) $"var_num" else $"var_d"
    val ranked = perDim
      .withColumn("rnk", row_number().over(
        w.orderBy(rankKey.desc, $"i".asc)))
    val out =
      if (exactLane)
        ranked.withColumn("trace", sum($"var_num").over(w))
          .withColumn("share", when($"trace" > 0,
            $"var_num".cast("double") / $"trace"))
      else
        ranked.withColumn("trace", lit(null).cast("long"))
          .withColumn("trace_d", sum($"var_d").over(w))
          .withColumn("share", when($"trace_d" > 0, $"var_d" / $"trace_d"))
    out
      .filter($"rnk" === 1)
      .select($"label".cast("long").as("label"), $"n",
        $"i".cast("long").as("top_dim"), $"var_num".as("top_var_num"),
        $"trace".as("trace_num"), $"share".as("top_share"))
      .orderBy($"label")
  }

  val q157Sql: String =
    """WITH u AS (
      |  SELECT label, vec_id, unnest(range(len(embedding))) AS i,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
      |  FROM embeddings),
      |nl AS (SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n
      |       FROM u GROUP BY 1),
      |s AS (SELECT label, i, CAST(sum(x) AS BIGINT) AS sx,
      |             CAST(sum(x * x) AS BIGINT) AS pii
      |      FROM u GROUP BY 1, 2),
      |v AS (
      |  SELECT s.label, s.i, nl.n,
      |         nl.n * s.pii - s.sx * s.sx AS var_num
      |  FROM s JOIN nl USING (label)),
      |t AS (
      |  SELECT label, CAST(sum(var_num) AS BIGINT) AS trace FROM v GROUP BY 1),
      |r AS (
      |  SELECT v.label, v.n, v.i, v.var_num, t.trace,
      |         row_number() OVER (PARTITION BY v.label
      |           ORDER BY v.var_num DESC, v.i) AS rnk
      |  FROM v JOIN t USING (label))
      |SELECT CAST(label AS BIGINT) AS label, n, i AS top_dim,
      |  var_num AS top_var_num, trace AS trace_num,
      |  CASE WHEN trace > 0 THEN CAST(var_num AS DOUBLE) / trace END AS top_share
      |FROM r WHERE rnk = 1
      |ORDER BY label""".stripMargin

  /** q147: ANN index quality evaluation — recall@k of the IVF probe
    * path (q25's index) against the exact brute-force ranking, over a
    * deterministic panel of query vectors. The measurement that decides
    * nProbe/cell-count BEFORE an index ships; without it "we built an
    * IVF index" is an assertion, not a number.
    *
    * Scale shape: the query panel (20 vectors) broadcasts to both legs;
    * the brute leg is one linear corpus scan scoring 20 dots per row
    * (TakeOrderedAndProject-style per-query top-k via a rank window
    * over 20×N scored rows — the scored frame, not payloads, shuffles);
    * the IVF leg scans only probed cells. Recall joins two (query,
    * rank≤10) lists — 200 rows a side regardless of corpus size.
    *
    * Exactness: scores are integer-millis dot/norm ratios (exact int
    * sums into IEEE doubles), so both engines rank identically and the
    * intersection counts are stable — no float-tie ambiguity at the
    * rank-10 boundary.
    */
  def q147AnnRecall(spark: SparkSession, dir: String): DataFrame =
    annRecallAt(spark, dir, nProbe = IvfNProbe)

  /** q147's harness at an arbitrary probe width — the sweep that picks
    * the operating point (`graft.Probe ivf-sweep`) and the planted-
    * cluster spec both run through this, so the measured curve is the
    * REGISTERED code path, not a reimplementation.
    */
  private[graft] def annRecallAt(spark: SparkSession, dir: String,
      nProbe: Int): DataFrame =
    annRecallParts(spark, dir, nProbe)._1

  /** Recall frame plus the (q_id, label) probed-cell assignment — the
    * second frame prices the probe width: joined against cell sizes it
    * gives exactly how many vectors the IVF leg scans for the panel.
    */
  private def annRecallParts(spark: SparkSession, dir: String,
      nProbe: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val nQueries = 20
    val topK = 10
    val e = Tables(spark, dir).embeddings
      .select($"vec_id", $"label",
        graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"))
      .ckpt()
    val qs = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"eq".as("q_eq"))
    def score(base: DataFrame): DataFrame = base
      .select($"q_id", $"vec_id",
        (graft.plans.FloatVectorExpressions.dotI64($"eq", $"q_eq").cast("double") /
          (sqrt(graft.plans.FloatVectorExpressions.normSqI64($"eq").cast("double")) *
            sqrt(graft.plans.FloatVectorExpressions.normSqI64($"q_eq").cast("double"))))
          .as("cos"))
    def rank(scored: DataFrame): DataFrame = scored
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"q_id")
          .orderBy($"cos".desc, $"vec_id")))
      .filter($"rnk" <= topK)
      .select($"q_id", $"vec_id", $"rnk")
    val brute = rank(score(
      e.crossJoin(broadcast(qs)).filter($"vec_id" =!= $"q_id")))
    // IVF leg: per-query top-2 cells by centroid cosine (integer-mean
    // centroids on the same grid), then score only those cells' vectors.
    val cent = e.select($"label", posexplode($"eq").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg(sum($"x").as("sx"), count(lit(1)).as("cnt"))
      .groupBy($"label")
      .agg(collect_list(struct($"pos", $"sx", $"cnt")).as("parts"))
      .select($"label",
        transform(array_sort($"parts"),
          p => floor((p.getField("sx") * 1000).cast("double") / p.getField("cnt"))
            .cast("long")).as("ceq"))
    val probed = cent.crossJoin(broadcast(qs))
      .select($"q_id", $"label",
        (graft.plans.FloatVectorExpressions.dotI64($"ceq", $"q_eq").cast("double") /
          (sqrt(graft.plans.FloatVectorExpressions.normSqI64($"ceq").cast("double")) *
            sqrt(graft.plans.FloatVectorExpressions.normSqI64($"q_eq").cast("double"))))
          .as("ccos"))
      .withColumn("crnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"q_id")
          .orderBy($"ccos".desc, $"label")))
      .filter($"crnk" <= nProbe)
      .select($"q_id", $"label")
    val ivf = rank(score(
      e.join(broadcast(probed), Seq("label"))
        .join(broadcast(qs), Seq("q_id"))
        .filter($"vec_id" =!= $"q_id")))
    val joined = brute.as("b").join(ivf.as("v"), Seq("q_id", "vec_id"))
      .select($"q_id", col("b.rnk").as("brnk"), col("v.rnk").as("vrnk"))
      .ckpt() // ≤ 200 rows; reused by the three k-cuts below
    val ks = Seq(1, 5, 10)
    val recall = ks.map { k =>
      joined.filter($"brnk" <= k && $"vrnk" <= k)
        .agg(count(lit(1)).as("hits"))
        .select(lit(k.toLong).as("k"), $"hits",
          round($"hits".cast("double") / (nQueries.toLong * k), 4).as("recall"))
    }.reduce(_ union _)
      .orderBy($"k")
    (recall, probed)
  }

  /** Operating-point sweep: recall@{1,5,10} plus the probe leg's scan
    * cost at each probe width. `scanned_vecs` (Σ probed-cell sizes over
    * the 20-query panel) over `corpus_vecs × 20` is the fraction of the
    * corpus a lookup touches — the cost term that scales to 100 TB,
    * where per-query wall time is proportional to it. Driven by
    * `graft.Probe ivf-sweep` and the planted-cluster spec.
    */
  private[graft] def ivfSweep(spark: SparkSession, dir: String,
      probes: Seq[Int]): DataFrame = {
    import spark.implicits._
    val sizes = Tables(spark, dir).embeddings
      .groupBy($"label").agg(count(lit(1)).as("n")).ckpt()
    val corpus = sizes.agg(sum($"n")).head.getLong(0)
    probes.map { p =>
      val (recall, probed) = annRecallParts(spark, dir, p)
      val scanned = probed.join(sizes, Seq("label"))
        .agg(coalesce(sum($"n"), lit(0L))).head.getLong(0)
      recall.withColumn("n_probe", lit(p))
        .withColumn("scanned_vecs", lit(scanned))
        .withColumn("scanned_frac",
          round(lit(scanned.toDouble / (corpus * 20)), 4))
    }.reduce(_ union _)
      .select($"n_probe", $"k", $"hits", $"recall",
        $"scanned_vecs", $"scanned_frac")
      .orderBy($"n_probe", $"k")
  }

  val q147Sql: String = {
    val perK = Seq(1, 5, 10).map { k =>
      s"""SELECT $k AS k, count(*) AS hits,
         |  round(CAST(count(*) AS DOUBLE) / (20 * $k), 4) AS recall
         |FROM j WHERE brnk <= $k AND vrnk <= $k""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\n")
    s"""WITH e AS (
      |  SELECT vec_id, label,
      |         [CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) FOR x IN embedding]
      |           AS eq
      |  FROM embeddings),
      |qs AS (SELECT vec_id AS q_id, eq AS q_eq FROM e WHERE vec_id < 20),
      |bu AS (
      |  SELECT q.q_id, e.vec_id, unnest(e.eq) AS x, unnest(q.q_eq) AS y
      |  FROM e CROSS JOIN qs q WHERE e.vec_id <> q.q_id),
      |bs AS (SELECT q_id, vec_id, sum(x * y) AS dot,
      |              sum(x * x) AS nx, sum(y * y) AS ny
      |       FROM bu GROUP BY 1, 2),
      |br AS (SELECT q_id, vec_id,
      |              row_number() OVER (PARTITION BY q_id
      |                ORDER BY CAST(dot AS DOUBLE)
      |                  / (sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(ny AS DOUBLE))) DESC,
      |                  vec_id) AS rnk
      |       FROM bs),
      |cu AS (SELECT label, unnest(range(len(eq))) AS pos, unnest(eq) AS x FROM e),
      |cent AS (SELECT label, pos,
      |                CAST(floor(CAST(sum(x) * 1000 AS DOUBLE) / count(*)) AS BIGINT) AS c
      |         FROM cu GROUP BY 1, 2),
      |cq AS (SELECT c.label, q.q_id, sum(c.c * yq.y) AS dot,
      |              sum(c.c * c.c) AS nc, sum(yq.y * yq.y) AS nq
      |       FROM cent c
      |       CROSS JOIN qs q
      |       JOIN (SELECT q_id, unnest(range(len(q_eq))) AS pos,
      |                    unnest(q_eq) AS y FROM qs) yq
      |         ON yq.q_id = q.q_id AND yq.pos = c.pos
      |       GROUP BY 1, 2),
      |probed AS (
      |  SELECT q_id, label FROM (
      |    SELECT q_id, label,
      |           row_number() OVER (PARTITION BY q_id
      |             ORDER BY CAST(dot AS DOUBLE)
      |               / (sqrt(CAST(nc AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))) DESC,
      |               label) AS crnk
      |    FROM cq) WHERE crnk <= 2),
      |vu AS (
      |  SELECT p.q_id, e.vec_id, unnest(e.eq) AS x, unnest(q.q_eq) AS y
      |  FROM e JOIN probed p ON e.label = p.label
      |  JOIN qs q ON q.q_id = p.q_id
      |  WHERE e.vec_id <> p.q_id),
      |vs AS (SELECT q_id, vec_id, sum(x * y) AS dot,
      |              sum(x * x) AS nx, sum(y * y) AS ny
      |       FROM vu GROUP BY 1, 2),
      |vr AS (SELECT q_id, vec_id,
      |              row_number() OVER (PARTITION BY q_id
      |                ORDER BY CAST(dot AS DOUBLE)
      |                  / (sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(ny AS DOUBLE))) DESC,
      |                  vec_id) AS rnk
      |       FROM vs),
      |j AS (SELECT b.q_id, b.rnk AS brnk, v.rnk AS vrnk
      |      FROM br b JOIN vr v USING (q_id, vec_id)
      |      WHERE b.rnk <= 10 AND v.rnk <= 10)
      |$perK
      |ORDER BY k""".stripMargin
  }

  /** Truncation cut points for q184 — powers of two up to the fixture's
    * full 64 dims; the full-dim row doubles as a recall=1.0 self-check.
    */
  private[graft] val TruncDims = Seq(8, 16, 32, 64)

  /** q184: truncated-dimension retrieval eval (the matryoshka operating
    * curve) — recall@10 of PREFIX-dimension cosine against the full-dim
    * exact top-10, per cut point. The production question it answers:
    * how many leading dimensions does the cheap first-pass scorer need
    * before exact full-dim re-ranking, the same cost dial q59 prices
    * for PQ codes (dim truncation is the simpler, re-train-free
    * alternative).
    *
    * Scale shape: ONE corpus scan computes every cut's score (prefix
    * dots via integer-grid slices in a single projection — a d-dim dot
    * subsumes its prefixes, so the sweep is not |dims| passes); one
    * q_id-keyed exchange feeds all four rank windows; everything after
    * the rank filter is ≤ panel × k × |dims| rows. The 20-query panel
    * is FIXED — corpus growth grows the candidate side only (q147's
    * panel contract). Integer-grid (×1000) arithmetic end to end, so
    * scores and tie-breaks are bit-identical cross-engine.
    */
  def q184DimTruncation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val nQueries = 20
    val topK = 10
    val e = Tables(spark, dir).embeddings
      .select($"vec_id",
        graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"))
      .ckpt()
    val qs = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"eq".as("q_eq"))
    // zero-norm prefix guard: a vector invisible at this cut (all-zero
    // grid prefix — planted by the fuzz fixture's [0,…,0,1]) scores -2,
    // strictly below any real cosine. Without it Spark's 0/0 is NaN
    // (sorts FIRST desc) while DuckDB's is NULL (sorts LAST) — an
    // engine-divergent ranking, not a math difference.
    def cosAt(d: Int): Column = {
      val nx = graft.plans.FloatVectorExpressions
        .normSqI64(slice($"eq", 1, d))
      val ny = graft.plans.FloatVectorExpressions
        .normSqI64(slice($"q_eq", 1, d))
      when(nx > 0 && ny > 0,
        graft.plans.FloatVectorExpressions
          .dotI64(slice($"eq", 1, d), slice($"q_eq", 1, d)).cast("double") /
          (sqrt(nx.cast("double")) * sqrt(ny.cast("double"))))
        .otherwise(lit(-2.0)).as(s"cos$d")
    }
    val scored = e.crossJoin(broadcast(qs)).filter($"vec_id" =!= $"q_id")
      .select(Seq($"q_id", $"vec_id") ++ TruncDims.map(cosAt): _*)
    // one exchange on q_id, one sort per cut — the stack unpivot runs
    // AFTER the rank filter, over ≤ panel × k × |dims| rows
    val ranked = TruncDims.foldLeft(scored) { (df, d) =>
      df.withColumn(s"rnk$d", row_number().over(
        Window.partitionBy($"q_id").orderBy(col(s"cos$d").desc, $"vec_id")))
    }
      .filter(TruncDims.map(d => col(s"rnk$d") <= topK).reduce(_ || _))
      .selectExpr("q_id", "vec_id",
        s"stack(${TruncDims.size}, " +
          TruncDims.map(d => s"CAST($d AS BIGINT), rnk$d").mkString(", ") +
          ") AS (dim, rnk)")
      .filter($"rnk" <= topK)
      .ckpt() // ≤ 20 × 10 × 4 rows
    val truth = ranked.filter($"dim" === TruncDims.last.toLong)
      .select($"q_id", $"vec_id")
    // recall denominator is the ACTUAL full-dim truth count, not the
    // nominal panel×k constant (ADVICE r15): a corpus with fewer than
    // k+1 non-query vectors yields < k truth rows per query, and a
    // constant denominator would silently deflate every cut's recall
    // while the full-dim self-check row masked it. One-row broadcast —
    // constant-size BNLJ, the bounded-literal contract.
    val denom = truth.agg(count(lit(1)).as("n_truth"))
    ranked.join(truth, Seq("q_id", "vec_id"))
      .groupBy($"dim").agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(denom))
      .select($"dim", $"hits",
        round($"hits".cast("double") / $"n_truth", 4)
          .as("recall_at_10"))
      .orderBy($"dim")
  }

  /** DuckDB twin: the same integer grid, prefix dots as conditional
    * sums over one positional unnest, one rank window per cut over the
    * shared (MATERIALIZED) score frame.
    */
  val q184Sql: String = {
    val sums = TruncDims.map { d =>
      s"""sum(CASE WHEN pos < $d THEN x * y ELSE 0 END) AS dot$d,
         |       sum(CASE WHEN pos < $d THEN x * x ELSE 0 END) AS nx$d,
         |       sum(CASE WHEN pos < $d THEN y * y ELSE 0 END) AS ny$d""".stripMargin
    }.mkString(",\n       ")
    val rnks = TruncDims.map { d =>
      s"""row_number() OVER (PARTITION BY q_id
         |           ORDER BY CASE WHEN nx$d > 0 AND ny$d > 0
         |             THEN CAST(dot$d AS DOUBLE)
         |               / (sqrt(CAST(nx$d AS DOUBLE)) * sqrt(CAST(ny$d AS DOUBLE)))
         |             ELSE -2.0 END DESC, vec_id) AS rnk$d""".stripMargin
    }.mkString(",\n         ")
    val unpiv = TruncDims.map { d =>
      s"SELECT CAST($d AS BIGINT) AS dim, q_id, vec_id FROM r WHERE rnk$d <= 10"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
      |  SELECT vec_id,
      |         [CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) FOR x IN embedding]
      |           AS eq
      |  FROM embeddings),
      |qs AS (SELECT vec_id AS q_id, eq AS q_eq FROM e WHERE vec_id < 20),
      |u AS (
      |  SELECT q.q_id, e.vec_id, unnest(range(len(e.eq))) AS pos,
      |         unnest(e.eq) AS x, unnest(q.q_eq) AS y
      |  FROM e CROSS JOIN qs q WHERE e.vec_id <> q.q_id),
      |s AS MATERIALIZED (
      |  SELECT q_id, vec_id,
      |       $sums
      |  FROM u GROUP BY 1, 2),
      |r AS MATERIALIZED (
      |  SELECT q_id, vec_id,
      |         $rnks
      |  FROM s),
      |st AS (
      |  $unpiv),
      |truth AS (SELECT q_id, vec_id FROM st WHERE dim = ${TruncDims.last})
      |SELECT st.dim, CAST(count(*) AS BIGINT) AS hits,
      |  round(CAST(count(*) AS DOUBLE)
      |    / (SELECT count(*) FROM truth), 4) AS recall_at_10
      |FROM st JOIN truth USING (q_id, vec_id)
      |GROUP BY st.dim
      |ORDER BY st.dim""".stripMargin
  }

  /** Shared upstream of q195/q196: per-label centroid statistics in
    * EXACT integers — n and the per-dimension coordinate sums of the
    * ×1000-quantized vectors (q157's quantization), assembled back into
    * a dimension-ordered array so consumers compare vectors against
    * centroids ROW-LOCALLY (the codegen'd ScaledSqDistI64/MinOtherMsd
    * kernels) instead of exploding the corpus a second time. One
    * corpus explode → (label, dim) partial+final aggregate → |labels|
    * rows; broadcast-sized at any corpus scale (labels × dims × 8 B).
    *
    * Null contract (r19): NULL/empty embeddings are filtered HERE, not
    * assumed absent — a NULL vector has no coordinates for posexplode,
    * so without the filter n (derived as the per-dim count) would
    * silently undercount versus a row count, and every n·q_i − s_i
    * deviation downstream would diverge from the oracle. The same
    * predicate lives in q195Sql/q196Sql/q197Sql's nl CTE so both
    * engines agree that an un-embeddable row neither shapes a centroid
    * nor counts toward its n (it cannot be scored either — the
    * consumers' base scans carry the same filter).
    */
  private[graft] def embeddable(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.filter($"embedding".isNotNull && size($"embedding") > 0)
  }

  private[graft] def labelCentroidStats(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val q = embeddable(emb).select($"vec_id", $"label",
      graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"))
    // n rides the SAME per-dim aggregate (count of any one dimension =
    // vectors per label; NULL/empty vectors are filtered above and
    // dims are uniform per corpus) — one corpus scan total, where the
    // original joined a second scan's counts
    val perDim = q.select($"label", posexplode($"eq").as(Seq("i", "x")))
      .groupBy($"label", $"i")
      .agg(sum($"x").as("sx"), max(abs($"x")).as("mxi"),
        count(lit(1)).as("cnt"))
    perDim.groupBy($"label")
      .agg(expr("transform(array_sort(collect_list(struct(i, sx))), s -> s.sx)")
        .as("sums"),
        // per-label max |q_i| — feeds the exact-lane int64-safety guard
        // (consumers that don't need it project it away)
        max($"mxi").as("mx"),
        max($"cnt").as("n"))
  }

  /** Exact-lane admissibility for the Σ(n·q_i − s_i)² int64 rank key:
    * every per-dim deviation is bounded by 2·n·max|q|, so the fold is
    * bounded by dims·(2·n·max|q|)². Safe (with 2× headroom) iff that
    * worst case stays under Long.MaxValue/2 — past it the consumers
    * swap to the double-msd lane (`aggregate` on BIGINT wraps silently
    * under non-ANSI; a wrapped key misranks with no error). Evaluated
    * in doubles: the inputs are exact small ints, and the 2× headroom
    * dwarfs one ulp of bound arithmetic.
    */
  private[graft] def exactDistSafe(maxN: Long, maxAbsQ: Long,
      dims: Int): Boolean = {
    val dev = 2.0 * maxN.toDouble * math.max(maxAbsQ, 1L).toDouble
    dims.toDouble * dev * dev <= Long.MaxValue.toDouble / 2
  }

  /** The collected centroid-stats matrix as the MinOtherMsd literal:
    * `[k, carrier, cid_0.., n_0.., row-major sums]`, cid-sorted.
    * Bounded by the ≤2 MB broadcast-codebook contract (labels × dims
    * longs — the same class as the PQ codebooks and kmeansAssign's
    * argmin matrix); the stats frame is already ckpt'd, so this driver
    * read costs |labels| rows, never a corpus pass.
    */
  private def centroidMetaLit(stats: DataFrame,
      exactLane: Boolean): Column = {
    import org.apache.spark.sql.functions.col
    val rows = stats
      .select(col("label").cast("long"), col("n"), col("sums")).collect()
      .sortBy(_.getLong(0))
    val k = rows.length.toLong
    val head = Array(k, if (exactLane) 1L else 0L)
    val cids = rows.map(_.getLong(0))
    val ns = rows.map(_.getLong(1))
    val sums = rows.flatMap(_.getSeq[Long](2))
    lit(head ++ cids ++ ns ++ sums)
  }

  /** q195: per-label centroid-outlier screen (r17) — for every label,
    * the 10 vectors farthest from their OWN label centroid: the
    * triage list a curation run reads before trusting a labeled
    * embedding slice (poisoned points, encoder glitches, gross
    * mislabels all surface here first).
    *
    * Exactness: with q = round(1000·x) and per-label (n, sx), the
    * scaled deviation n·q_i − sx_i is an exact int64, so dist2_num =
    * Σ_i (n·q_i − sx_i)² ranks identically in both engines (≤2.3·10^17
    * at sf10's n = 5·10^4 per label — int64-safe through the tested
    * decades). Past the `exactDistSafe` bound — dims·(2·n·max|q|)²
    * over Long.MaxValue/2, the 100 TB-per-label regime — the exact
    * rank key IS swapped for the double msd (Σ in doubles; an outlier
    * RANKING tolerates ulp-level sums, and `aggregate` on BIGINT would
    * wrap silently instead): the guard reads (max n, max |q|, dims)
    * off the already-ckpt'd |labels|-row stats frame, and the msd lane
    * reports dist2_num as NULL rather than a wrapped integer. The
    * boundary is spec-pinned (both lanes rank a planted fixture
    * identically; the forced msd lane nulls the exact key). In the
    * exact lane the reported msd = dist2_num / n² is Σ(q_i − q̄_i)² in
    * milli-units² — one cast + one IEEE division from exact ints,
    * bit-identical cross-engine. Ties break to the lower vec_id.
    *
    * Scale shape: the |labels|-row stats frame broadcasts; the distance
    * is a row-local codegen'd kernel fold (ScaledSqDistI64 — no second
    * explode, nothing quadratic, no interpreted lambda);
    * the only corpus-sized shuffle is the per-label rank, and the
    * rank ≤ 10 filter plans as WindowGroupLimit (per-partition top-10
    * heaps BEFORE the exchange, q8's bounded-state shape) — output is
    * labels × 10 rows at any corpus size.
    */
  def q195EmbeddingOutliers(spark: SparkSession, dir: String): DataFrame =
    embeddingOutliersOf(Tables(spark, dir).embeddings)

  private[graft] def embeddingOutliersOf(emb: DataFrame,
      forceExactLane: Option[Boolean] = None): DataFrame = {
    import emb.sparkSession.implicits._
    val stats = labelCentroidStats(emb).ckpt()
    // lane guard off the ckpt'd |labels|-row frame — a 3-value driver
    // read, never a corpus pass; an empty corpus defaults to the exact
    // lane (vacuously safe)
    val exactLane = forceExactLane.getOrElse {
      val g = stats.agg(max($"n"), max($"mx"), max(size($"sums"))).head
      g.isNullAt(0) ||
        exactDistSafe(g.getLong(0), g.getLong(1), g.getInt(2))
    }
    // repartition BEFORE the per-vec fold: the embeddings parquet is a
    // handful of MB per million rows, so the scan yields ~1 input split
    // and everything downstream of a broadcast join would run on ONE
    // core (measured at sf1: cpu_wall 1.13 on a 32-core host, 26 s for
    // q196's grid). The corpus shuffle this buys is tiny (quantized
    // arrays), and on a real cluster the same line spreads a
    // small-but-hot slice across executors.
    val base = embeddable(emb).select($"vec_id", $"label",
      graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .join(broadcast(stats.select($"label", $"sums", $"n")), "label")
    // each lane ranks by its NATIVE key type: the exact lane must order
    // the int64 itself (a double cast of a >2⁵³ key — sf10 already
    // reaches 2.3·10¹⁷ — collapses distinct keys and would diverge from
    // the oracle's exact BIGINT ordering); msd-lane n² runs in doubles
    // (long n·n itself wraps past n ≈ 3·10⁹). The fold is the codegen'd
    // ScaledSqDistI64/ScaledMsdD kernel (r18): same ordered arithmetic
    // as the interpreted aggregate(zip_with(...)) it replaces, minus
    // the per-row array materialization and the codegen break.
    val scored =
      if (exactLane)
        base.withColumn("dist2_num",
          graft.plans.FloatVectorExpressions
            .scaledSqDistI64($"eq", $"sums", $"n"))
          .withColumn("msd",
            $"dist2_num".cast("double") / ($"n" * $"n"))
      else
        base.withColumn("msd",
          graft.plans.FloatVectorExpressions
            .scaledMsdD($"eq", $"sums", $"n"))
          .withColumn("dist2_num", lit(null).cast("long"))
    val rankKey = if (exactLane) $"dist2_num" else $"msd"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"label").orderBy(rankKey.desc, $"vec_id".asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 10)
      .select($"label".cast("long").as("label"), $"n",
        $"rnk".cast("long").as("rnk"), $"vec_id", $"dist2_num", $"msd")
      .orderBy($"label", $"rnk")
  }

  val q195Sql: String =
    """WITH u AS (
      |  SELECT vec_id, label, unnest(range(len(embedding))) AS i,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
      |  FROM embeddings),
      |nl AS (SELECT label, CAST(count(*) AS BIGINT) AS n
      |       FROM embeddings
      |       WHERE embedding IS NOT NULL AND len(embedding) > 0
      |       GROUP BY 1),
      |s AS (SELECT label, i, CAST(sum(x) AS BIGINT) AS sx
      |      FROM u GROUP BY 1, 2),
      |d AS (
      |  SELECT u.vec_id, u.label, max(nl.n) AS n,
      |         CAST(sum((nl.n * u.x - s.sx) * (nl.n * u.x - s.sx)) AS BIGINT)
      |           AS dist2_num
      |  FROM u JOIN s ON u.label = s.label AND u.i = s.i
      |         JOIN nl ON u.label = nl.label
      |  GROUP BY 1, 2),
      |r AS (SELECT label, n, vec_id, dist2_num,
      |        row_number() OVER (PARTITION BY label
      |          ORDER BY dist2_num DESC, vec_id) AS rnk
      |      FROM d)
      |SELECT CAST(label AS BIGINT) AS label, n, CAST(rnk AS BIGINT) AS rnk,
      |  vec_id, dist2_num,
      |  CAST(dist2_num AS DOUBLE) / (n * n) AS msd
      |FROM r WHERE rnk <= 10
      |ORDER BY label, rnk""".stripMargin

  /** q196: nearest-centroid label-margin screen (r17) — the classic
    * mislabel detector over the same centroid stats: a vector whose
    * nearest OTHER-label centroid is strictly closer than its own
    * label's centroid is a mislabel suspect; the per-label suspect
    * share is the "is this slice's labeling trustworthy" number a
    * mixture/eval pipeline gates on (high share ⇒ relabel or drop the
    * slice, q162's confusion matrix tells you WHICH labels swap).
    *
    * Own-centroid bias disclosed: each vector is INSIDE its own
    * label's mean (naive nearest-class-centroid), which shrinks own
    * distance and under-counts suspects — the conservative direction
    * for a drop-the-slice gate. Cross-label distances compare msd
    * DOUBLES because the exact cross ratio (dist²_a·n_b² vs
    * dist²_b·n_a²) overflows int64; each msd is one cast + one IEEE
    * division from exact ints, so both engines compare IDENTICAL
    * doubles and the strict-< branch is deterministic. Equal msd
    * (e.g. a vector equidistant to two centroids) stays loyal to its
    * own label. Past the `exactDistSafe` bound the BIGINT grid fold
    * would wrap before its double cast, so the fold's carrier is
    * swapped to doubles under the same guard as q195 (spec-pinned).
    *
    * Scale shape (r18 rework): own-centroid stats ride a broadcast
    * |labels|-row join; the cross-centroid minimum is ONE codegen'd
    * kernel (MinOtherMsd) over the literal stats matrix — a row-local
    * k×d flat loop per vector, the kmeansAssign argmin pattern. No
    * vec×centroid grid is ever materialized (the original crossJoin
    * form re-measured 122 s/sf10 = 24×/decade — kmeansAssign's
    * documented 765 s failure shape); the only shuffle left is the
    * ≤|labels|-row rollup.
    */
  def q196LabelMargin(spark: SparkSession, dir: String): DataFrame =
    labelMarginOf(Tables(spark, dir).embeddings)

  private[graft] def labelMarginOf(emb: DataFrame,
      forceExactLane: Option[Boolean] = None): DataFrame = {
    import emb.sparkSession.implicits._
    val stats = labelCentroidStats(emb).ckpt()
    // same int64 cliff as q195's rank key: the grid fold Σ(cn·x − s)²
    // accumulates in BIGINT before its double cast, so past the
    // exactDistSafe bound it swaps to a per-term double fold (the msd
    // COMPARISON is already in doubles — only the fold's carrier
    // changes; cn² runs in doubles there since long cn·cn wraps too)
    val exactLane = forceExactLane.getOrElse {
      val g = stats.agg(max($"n"), max($"mx"), max(size($"sums"))).head
      g.isNullAt(0) ||
        exactDistSafe(g.getLong(0), g.getLong(1), g.getInt(2))
    }
    // r18 rework: the original crossJoin-against-centroids grid
    // materialized N·|labels| rows each dragging TWO dim-long arrays
    // through an interpreted zip_with fold plus a corpus-sized
    // (vec, clabel)→vec re-aggregation — kmeansAssign's measured-bad
    // shape (765 s/sf10 there; 122 s/sf10 = 24×/decade here). Now ONE
    // row-local projection: own stats ride the broadcast join, the
    // cross-centroid min is the codegen'd MinOtherMsd kernel over the
    // literal stats matrix (≤2 MB contract). Same arithmetic, same
    // doubles, no grid, no second exchange.
    val meta = centroidMetaLit(stats, exactLane)
    // same single-input-split hazard as q195 (see the comment there);
    // without this the per-vec kernel runs on one core
    val perVec = embeddable(emb).select($"vec_id", $"label",
      graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .join(broadcast(stats.select($"label", $"sums", $"n")), "label")
      .withColumn("own_msd",
        if (exactLane)
          graft.plans.FloatVectorExpressions
            .scaledSqDistI64($"eq", $"sums", $"n").cast("double") /
            ($"n" * $"n")
        else
          graft.plans.FloatVectorExpressions
            .scaledMsdD($"eq", $"sums", $"n"))
      .withColumn("other_msd", graft.plans.FloatVectorExpressions
        .minOtherMsd($"eq", $"label".cast("long"), meta))
    perVec
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
        sum(when($"other_msd" < $"own_msd", 1L).otherwise(0L))
          .as("n_suspect"))
      .select($"label".cast("long").as("label"), $"n", $"n_suspect",
        ($"n_suspect".cast("double") / $"n").as("suspect_share"))
      .orderBy($"label")
  }

  val q196Sql: String =
    """WITH u AS (
      |  SELECT vec_id, label, unnest(range(len(embedding))) AS i,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
      |  FROM embeddings),
      |nl AS (SELECT label, CAST(count(*) AS BIGINT) AS n
      |       FROM embeddings
      |       WHERE embedding IS NOT NULL AND len(embedding) > 0
      |       GROUP BY 1),
      |s AS (SELECT label, i, CAST(sum(x) AS BIGINT) AS sx
      |      FROM u GROUP BY 1, 2),
      |g AS (
      |  SELECT u.vec_id, u.label, s.label AS clabel,
      |         CAST(sum((nl.n * u.x - s.sx) * (nl.n * u.x - s.sx)) AS DOUBLE)
      |           / (max(nl.n) * max(nl.n)) AS msd
      |  FROM u JOIN s ON u.i = s.i
      |         JOIN nl ON s.label = nl.label
      |  GROUP BY 1, 2, 3),
      |p AS (
      |  SELECT vec_id, label,
      |         max(CASE WHEN clabel = label THEN msd END) AS own_msd,
      |         min(CASE WHEN clabel <> label THEN msd END) AS other_msd
      |  FROM g GROUP BY 1, 2)
      |SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN other_msd < own_msd THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_suspect,
      |  CAST(sum(CASE WHEN other_msd < own_msd THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) AS suspect_share
      |FROM p GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q197: fused embedding trust report (r18, r17 verdict order 6) —
    * q194's one-pass move applied to the embedding side. q195 and q196
    * each rebuilt the ×1000 quantization and ran their own corpus pass
    * (labelCentroidStats twice, one explode each; then a rank pass and
    * a centroid pass). This emits BOTH screens from ONE stats pass and
    * ONE row-local scoring pass: the exact int64 own-centroid fold is
    * computed once per vector, serving the outlier RANK (q195's exact
    * key) and the own-vs-other msd comparison (q196's suspect test)
    * from the same number.
    *
    * Output: one row per (label, rnk ≤ 10 outlier) carrying the
    * label-level trust columns (n, n_suspect, suspect_share) alongside
    * the ranked outlier (rnk, vec_id, dist2_num, msd) — the long-format
    * report a curation run reads per slice; labels × 10 rows at any
    * corpus size.
    *
    * Scale shape (r20 rework of the r18 fusion): the plan is quantize →
    * broadcast stats join + row-local codegen'd kernels
    * (ScaledSqDistI64 for own, MinOtherMsd over the literal stats
    * matrix for others — no vec×centroid grid) → ONE published per-vec
    * score frame feeding (a) the n/n_suspect rollup as a partial+final
    * AGGREGATE (|labels| rows cross its exchange) and (b) the top-10
    * rank as a bounded TopKPerKey heap (≤ 10·|labels| rows per task
    * cross its exchange). The r18 form computed both as windows over
    * one label partitioning — 1/|labels| of the corpus in one sort
    * task each, the q124-class single-task hazard. Same exactDistSafe
    * lane guard as the constituents: past the int64 bound the fold
    * carrier swaps to doubles, ranks by msd, and reports dist2_num
    * NULL.
    */
  def q197EmbeddingTrust(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    embeddingTrustOf(emb,
      distributed = !graft.functions.DistributedRank.fitsSingleTask(emb))
  }

  private[graft] def embeddingTrustOf(emb: DataFrame,
      forceExactLane: Option[Boolean] = None,
      distributed: Boolean = false): DataFrame = {
    import emb.sparkSession.implicits._
    val stats = labelCentroidStats(emb).ckpt()
    val exactLane = forceExactLane.getOrElse {
      val g = stats.agg(max($"n"), max($"mx"), max(size($"sums"))).head
      g.isNullAt(0) ||
        exactDistSafe(g.getLong(0), g.getLong(1), g.getInt(2))
    }
    // r18 rework, same as labelMarginOf: no materialized grid — own
    // stats via the broadcast join (own_dist2 is the exact fold, msd
    // one cast+division from it), the cross-centroid min via the
    // codegen'd MinOtherMsd kernel over the literal stats matrix.
    val meta = centroidMetaLit(stats, exactLane)
    // same single-input-split hazard as q195/q196 (see the q195 comment)
    val joined = embeddable(emb).select($"vec_id", $"label",
      graft.plans.FloatVectorExpressions.quantizeMillisCol($"embedding").as("eq"))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .join(broadcast(stats.select($"label", $"sums", $"n")), "label")
    val scored =
      if (exactLane) {
        joined.withColumn("own_dist2", graft.plans.FloatVectorExpressions
          .scaledSqDistI64($"eq", $"sums", $"n"))
          .withColumn("own_msd",
            $"own_dist2".cast("double") / ($"n" * $"n"))
      } else {
        joined.withColumn("own_dist2", lit(null).cast("long"))
          .withColumn("own_msd", graft.plans.FloatVectorExpressions
            .scaledMsdD($"eq", $"sums", $"n"))
      }
    val perVec0 = scored
      .withColumn("other_msd", graft.plans.FloatVectorExpressions
        .minOtherMsd($"eq", $"label".cast("long"), meta))
      .select($"vec_id", $"label", $"own_msd", $"other_msd", $"own_dist2")
    def emit(ranked: DataFrame): DataFrame = ranked
      .select($"label".cast("long").as("label"), $"n", $"n_suspect",
        ($"n_suspect".cast("double") / $"n").as("suspect_share"),
        $"rnk".cast("long").as("rnk"), $"vec_id",
        $"own_dist2".as("dist2_num"), $"own_msd".as("msd"))
      .orderBy($"label", $"rnk")
    val rankKey = if (exactLane) $"own_dist2" else $"own_msd"
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy($"label").orderBy(rankKey.desc, $"vec_id".asc)
    // the q124-class gate: below it the fused label-window pair (one
    // exchange, no publish) is cheaper; past it that pair puts
    // 1/|labels| of the corpus in ONE sort task each, so the rollup
    // becomes a partial+final AGGREGATE (|labels| rows cross the
    // exchange) and the top-10 rank a bounded TopKPerKey heap over the
    // once-published score frame. Row-identical (DistributedRankSpec +
    // oracle both ways).
    if (!distributed) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"label")
      return emit(perVec0
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("n_suspect",
          sum(when($"other_msd" < $"own_msd", 1L).otherwise(0L)).over(w))
        .withColumn("rnk", row_number().over(wOrd))
        .filter($"rnk" <= 10))
    }
    val perVec = perVec0
      .ckpt() // two consumers below — score each vector exactly once
    val labStats = perVec.groupBy($"label")
      .agg(count(lit(1)).as("n"),
        sum(when($"other_msd" < $"own_msd", 1L).otherwise(0L)).as("n_suspect"))
    val rankCol = if (exactLane) "own_dist2" else "own_msd"
    emit(graft.plans.TopKPerKey.topKPerKey(perVec, Seq("label"),
        Seq(graft.plans.TopKPerKey.SortSpec(rankCol, desc = true),
          graft.plans.TopKPerKey.SortSpec("vec_id")), 10)
      .withColumn("rnk", row_number().over(wOrd))
      .join(broadcast(labStats), Seq("label")))
  }

  /** DuckDB twin of q197: the fused grid CTE carries both the exact
    * BIGINT distance and its msd double per (vec, centroid); the
    * rollup and the rank are window functions over the same label
    * partition, mirroring the Spark plan's shared exchange.
    */
  val q197Sql: String =
    """WITH u AS (
      |  SELECT vec_id, label, unnest(range(len(embedding))) AS i,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
      |  FROM embeddings),
      |nl AS (SELECT label, CAST(count(*) AS BIGINT) AS n
      |       FROM embeddings
      |       WHERE embedding IS NOT NULL AND len(embedding) > 0
      |       GROUP BY 1),
      |s AS (SELECT label, i, CAST(sum(x) AS BIGINT) AS sx
      |      FROM u GROUP BY 1, 2),
      |g AS (
      |  SELECT u.vec_id, u.label, s.label AS clabel,
      |         CAST(sum((nl.n * u.x - s.sx) * (nl.n * u.x - s.sx)) AS BIGINT)
      |           AS dist2,
      |         CAST(sum((nl.n * u.x - s.sx) * (nl.n * u.x - s.sx)) AS DOUBLE)
      |           / (max(nl.n) * max(nl.n)) AS msd
      |  FROM u JOIN s ON u.i = s.i
      |         JOIN nl ON s.label = nl.label
      |  GROUP BY 1, 2, 3),
      |p AS (
      |  SELECT vec_id, label,
      |         max(CASE WHEN clabel = label THEN msd END) AS own_msd,
      |         min(CASE WHEN clabel <> label THEN msd END) AS other_msd,
      |         max(CASE WHEN clabel = label THEN dist2 END) AS own_dist2
      |  FROM g GROUP BY 1, 2),
      |r AS (
      |  SELECT label, vec_id, own_msd, other_msd, own_dist2,
      |         count(*) OVER (PARTITION BY label) AS n,
      |         sum(CASE WHEN other_msd < own_msd THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY label) AS n_suspect,
      |         row_number() OVER (PARTITION BY label
      |           ORDER BY own_dist2 DESC, vec_id) AS rnk
      |  FROM p)
      |SELECT CAST(label AS BIGINT) AS label, CAST(n AS BIGINT) AS n,
      |  CAST(n_suspect AS BIGINT) AS n_suspect,
      |  CAST(n_suspect AS DOUBLE) / n AS suspect_share,
      |  CAST(rnk AS BIGINT) AS rnk, vec_id,
      |  own_dist2 AS dist2_num, own_msd AS msd
      |FROM r WHERE rnk <= 10
      |ORDER BY label, rnk""".stripMargin

  /** q198: embedding hygiene screen (r18) — the gate a pipeline runs
    * BEFORE trusting any distance math: zero vectors (an encoder
    * failure mode; cosine against them is NaN in every engine) and the
    * per-label norm histogram (a label whose norms collapse or explode
    * flags a broken encoder batch or an unnormalized ingest mixing
    * into a normalized corpus).
    *
    * Exactness: norm² = Σ q_i² on the ×1000 milli-quantized grid is an
    * exact int64, bounded by dims·max|q|² (~10⁸ for unit-scale 64-dim
    * vectors). Unlike the corpus-n-growing folds (q145/q195), this
    * bound is ROW-LOCAL, so it is CHECKED rather than laned (r19,
    * ADVICE r18): a component past floor(√(Long.MaxValue/2 / dims)) —
    * raw magnitude ≈ 2.7·10⁵ at 64 dims — raises loudly instead of
    * wrapping into a two's-complement bucket. The guard is the
    * worst-case dims·max|q|² ≤ Long.MaxValue/2, deliberately
    * conservative (a single huge component trips it even if the true
    * sum would fit): a vector THAT unnormalized is precisely what the
    * hygiene screen exists to catch, and a loud failure beats a
    * silently-wrong histogram. The DuckDB twin fails loudly on the
    * same corpora (HUGEINT sum errors on its BIGINT cast), at its own
    * slightly-later threshold — the oracle is only compared below
    * both. The histogram bucket is the integer floor-log2
    * `length(bin(norm2)) − 1` (q67's no-libm pattern, identical in
    * both engines), with zero vectors pinned to bucket −1. NULL/empty
    * embeddings are filtered under the same contract as
    * labelCentroidStats (both engines; an un-embeddable row has no
    * norm). Output is one row per (label, bucket) with count and
    * exact min/max norm² — ≤ labels × ~30 rows at any corpus size.
    *
    * Scale shape: one corpus scan, a row-local fold per vector, one
    * partial+final aggregate on (label, bucket) — no joins, no
    * windows, nothing quadratic.
    */
  def q198EmbeddingHygiene(spark: SparkSession, dir: String): DataFrame =
    embeddingHygieneOf(Tables(spark, dir).embeddings)

  private[graft] def embeddingHygieneOf(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    embeddable(emb).select($"label", expr(
      """transform(embedding,
        |  x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"""
        .stripMargin).as("eq"))
      .select($"label", expr(
        """CASE WHEN aggregate(eq, CAST(0 AS BIGINT),
          |            (a, v) -> greatest(a, abs(v)))
          |       > CAST(floor(sqrt(4.611686018427387e18
          |                         / size(eq))) AS BIGINT)
          |  THEN raise_error('q198: embedding component past the exact-int64 norm bound (|q| > sqrt(Long.MaxValue/2/dims)) - corpus is not milli-quantizable, norm2 would wrap silently')
          |  ELSE aggregate(eq, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)
          |END""".stripMargin)
      .as("norm2"))
      .withColumn("bucket", when($"norm2" === 0L, lit(-1L))
        .otherwise((length(bin($"norm2")) - 1).cast("long")))
      .groupBy($"label", $"bucket")
      .agg(count(lit(1)).as("n_vecs"),
        min($"norm2").as("min_norm2"), max($"norm2").as("max_norm2"))
      .select($"label".cast("long").as("label"), $"bucket", $"n_vecs",
        $"min_norm2", $"max_norm2")
      .orderBy($"label", $"bucket")
  }

  val q198Sql: String =
    """WITH u AS (
      |  SELECT vec_id, label,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |n AS (SELECT vec_id, label, CAST(sum(x * x) AS BIGINT) AS norm2
      |      FROM u GROUP BY 1, 2),
      |b AS (SELECT label,
      |        CASE WHEN norm2 = 0 THEN -1
      |             ELSE length(bin(norm2)) - 1 END AS bucket,
      |        norm2
      |      FROM n)
      |SELECT CAST(label AS BIGINT) AS label, CAST(bucket AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(min(norm2) AS BIGINT) AS min_norm2,
      |  CAST(max(norm2) AS BIGINT) AS max_norm2
      |FROM b GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q195_embedding_outliers", q195EmbeddingOutliers, Some(q195Sql),
      Seq("X-sim", "X-stats", "X-scale"),
      "per-label centroid-outlier triage: exact-integer distances, top-10 per label via WindowGroupLimit"),
    Q("q196_label_margin", q196LabelMargin, Some(q196Sql),
      Seq("X-sim", "X-eval", "X-scale"),
      "nearest-centroid mislabel screen: per-label suspect share from the broadcast centroid grid"),
    Q("q197_embedding_trust", q197EmbeddingTrust, Some(q197Sql),
      Seq("X-sim", "X-eval", "X-scale"),
      "fused embedding trust report: q195 outliers + q196 margins from one stats pass and one grid fold"),
    Q("q198_embedding_hygiene", q198EmbeddingHygiene, Some(q198Sql),
      Seq("X-sim", "X-stats", "X-scale"),
      "embedding hygiene screen: zero-vector counts + per-label exact-integer norm histogram, one row-local scan"),
    Q("q184_dim_truncation", q184DimTruncation, Some(q184Sql),
      Seq("X-sim", "X-eval", "X-scale"),
      "matryoshka operating curve: recall@10 of prefix-dim cosine vs full-dim truth, one scan for all cuts"),
    Q("q145_embed_covariance", q145EmbedCovariance, Some(q145Sql),
      Seq("X-sim", "X-stats", "X-scale"),
      "embedding covariance/correlation matrix via one-pass exact-integer Gram aggregator"),
    Q("q147_ann_recall", q147AnnRecall, Some(q147Sql), Seq("X-sim", "X-eval"),
      "recall@k of the IVF probe path vs exact brute-force over a 20-query panel"),
    Q("q151_top_component", q151TopComponent, Some(q151Sql),
      Seq("X-sim", "X-stats", "X-scale"),
      "top PCA component: one Gram pass + 8 exact-integer power-iteration rounds"),
    Q("q157_label_variance", q157LabelVariance, Some(q157Sql),
      Seq("X-sim", "X-stats"),
      "per-label variance profile: grouped Gram fold, top dimension + trace share"),
    Q("q141_cosine_spectrum", q141CosineSpectrum, Some(q141Sql),
      Seq("X-sim", "X-stats", "X-scale"),
      "pairwise-cosine spectrum histogram over hash-bucket-sampled pairs"),
    Q("q137_knn_graph", q137KnnGraph, Some(q137Sql), Seq("X-sim", "X-scale"),
      "cell-blocked exact kNN graph: integer-millis cosine, top-3 per vector"),
    Q("q23_embed_neardup", q23EmbedNearDup, Some(q23Sql), Seq("X-dedup", "X-sim"),
      "embedding near-dup: blocked pairwise cosine"),
    Q("q110_filtered_ann", q110FilteredAnn, Some(q110Sql), Seq("X-sim"),
      "filtered vector search: metadata predicate semi-join before the dot product"),
    Q("q111_hybrid_retrieval", q111HybridRetrieval, Some(q111Sql), Seq("X-sim", "F-text"),
      "hybrid keyword+vector retrieval fused with integer reciprocal-rank fusion"),
    Q("q99_kmeans", q99Kmeans, Some(q99Sql), Seq("X-sim", "X-scale"),
      "broadcast k-means: deterministic init, 2 Lloyd rounds, exact-integer updates"),
    Q("q135_semantic_dedup", q135SemanticDedup, Some(q135Sql), Seq("X-dedup", "X-sim", "X-scale"),
      "SemDeDup: corpus-proportional k-means partition, within-cluster cosine prune"),
    Q("q163_semdedup_scaled", q163SemdedupScaled, Some(q163Sql),
      Seq("X-dedup", "X-sim", "X-scale"),
      "SemDeDup at scale: hash-sampled Lloyd train, two-level pruned assignment"),
    Q("q24_ann_brute", q24AnnBrute, Some(q24Sql), Seq("X-sim"),
      "brute-force cosine top-k (exact baseline)"),
    Q("q25_ann_ivf", q25AnnIvf, Some(q25Sql), Seq("X-sim"),
      "IVF-style ANN: precomputed index, probe nearest cells only"),
    Q("q59_ann_pq", q59AnnPq, Some(q59Sql), Seq("X-sim"),
      "product-quantization ANN: PQ codes + ADC scoring + exact re-rank"),
    Q("q60_srp_dedup", q60SrpDedup, Some(q60Sql), Seq("X-dedup", "X-sim"),
      "global embedding dup detection: SRP-LSH banded signatures + exact verify, planted scaled-twin positive control"))
}
