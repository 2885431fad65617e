package graft

import graft.functions.Shingles

/** DuckDB-SQL reimplementation of the engine's hash primitives, used to
  * build EXACT oracles for the MinHash/LSH/SimHash family (VERDICT r1
  * item 3: "signatures are deterministic 64-bit integer arithmetic ...
  * expressible in DuckDB SQL bit arithmetic").
  *
  * Representation: all 64-bit values are carried as HUGEINT in [0, 2^64).
  *  - wrapping 64-bit multiply: 32-bit split schoolbook product mod 2^64
  *    (a HUGEINT product of two full 64-bit values would overflow 128 bits)
  *  - xor: DuckDB's xor() on the two 32-bit halves, reassembled
  *  - logical shift right: integer division by 2^n (values are unsigned)
  *  - polyhash61: list_reduce over ord() of each char -- valid because the
  *    driver corpus is pure ASCII (TESTDATA.md), so char ordinal == byte
  *  - splitmix64: the three mix steps as chained CTEs (one column each);
  *    inlining would duplicate subexpressions exponentially
  * Final values are converted to signed BIGINT to match Spark's Long.
  */
object OracleSqlGen {

  private val M64 = BigInt(1) << 64
  private val C1 = BigInt("9e3779b97f4a7c15", 16)
  private val C2 = BigInt("bf58476d1ce4e5b9", 16)
  private val C3 = BigInt("94d049bb133111eb", 16)

  private def unsigned(l: Long): String =
    java.lang.Long.toUnsignedString(l)

  /** (a * c) mod 2^64 for HUGEINT expr `a` and constant c. */
  private def mul(a: String, c: BigInt): String = {
    val lo = c % (BigInt(1) << 32)
    val hi = c >> 32
    s"((($a) % 4294967296) * $lo + (((($a) % 4294967296) * $hi + (($a) // 4294967296) * $lo) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT"
  }

  /** 64-bit xor of two HUGEINT exprs via 32-bit halves. */
  private def xor(a: String, b: String): String =
    s"(xor((($a) // 4294967296)::BIGINT, (($b) // 4294967296)::BIGINT)::HUGEINT * 4294967296 + " +
      s"xor((($a) % 4294967296)::BIGINT, (($b) % 4294967296)::BIGINT)::HUGEINT)"

  /** Three chained CTEs applying splitmix64 to column `zcol` of CTE `src`,
    * producing column `out` in CTE `{pfx}3`; all other columns carried.
    */
  private def mixCtes(src: String, zcol: String, out: String, pfx: String): String = {
    val z3 = mul(xor("_z2", "_z2 // 134217728"), C3)
    s"""${pfx}1 AS (SELECT * EXCLUDE ($zcol), ($zcol + ${C1}) % 18446744073709551616::HUGEINT AS _z1 FROM $src),
       |${pfx}2 AS (SELECT * EXCLUDE (_z1), ${mul(xor("_z1", "_z1 // 1073741824"), C2)} AS _z2 FROM ${pfx}1),
       |${pfx}3 AS (SELECT * EXCLUDE (_z2), ${xor(z3, s"($z3) // 2147483648")} AS $out FROM ${pfx}2)""".stripMargin
  }

  private def signed(x: String): String =
    s"CASE WHEN $x >= 9223372036854775808::HUGEINT THEN ($x - 18446744073709551616::HUGEINT)::BIGINT ELSE ($x)::BIGINT END"

  /** Distinct word-3-gram polyhash61 shingles of docs(k, text) -- mirrors
    * Shingles.wordNgramHashes (dedup by HASH, matching Spark exactly).
    */
  private def wordShingleCtes(docsSql: String, n: Int): String =
    s"""docs AS ($docsSql),
       |ws AS (SELECT k, list_filter(string_split(text, ' '), t -> t <> '') AS w FROM docs),
       |grams AS (SELECT DISTINCT k, ${Seq.tabulate(n)(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")} AS g
       |          FROM (SELECT k, w, unnest(generate_series(1, len(w) - ${n - 1})) AS i FROM ws WHERE len(w) >= $n)),
       |ph0 AS (SELECT k, list_reduce(list_prepend(0::HUGEINT, list_transform(range(1, length(g)+1), i -> ord(substr(g, i, 1))::HUGEINT)), (h, c) -> (h * 131 + c) % 2305843009213693951) AS sh FROM grams),
       |ph AS (SELECT DISTINCT k, sh FROM ph0)""".stripMargin

  /** sig CTE: (k, i, m) MinHash signature components as HUGEINT. */
  private def sigCtes(docsSql: String, cfg: graft.operators.MinHashLSH.Config): String = {
    val seedVals = Shingles.seeds(cfg.numHashes).zipWithIndex
      .map { case (s, i) => s"($i, ${unsigned(s)}::HUGEINT)" }.mkString(", ")
    s"""${wordShingleCtes(docsSql, graft.operators.MinHashLSH.ShingleLen)},
       |seeds(i, seed) AS (VALUES $seedVals),
       |zz AS (SELECT k, i, ${xor("sh", "seed")} AS z0 FROM ph CROSS JOIN seeds),
       |${mixCtes("zz", "z0", "m", "mm")},
       |sig AS (SELECT k, i, min(${signed("m")}) AS ms FROM mm3 GROUP BY k, i),
       |sigu AS (SELECT k, i, CASE WHEN ms < 0 THEN ms::HUGEINT + 18446744073709551616::HUGEINT ELSE ms::HUGEINT END AS m FROM sig)""".stripMargin
    // min is over SIGNED values: Spark's minhashSignature compares Longs,
    // so the smallest signature component is the signed minimum, not the
    // unsigned one; sigu restores the raw 64-bit pattern for band folding.
  }

  /** Oracle: (k, i, sig) signature components, signed. */
  def minhashSigsSql(docsSql: String, cfg: graft.operators.MinHashLSH.Config): String =
    s"""WITH ${sigCtes(docsSql, cfg)}
       |SELECT k, CAST(i AS INT) AS i, ms AS sig FROM sig""".stripMargin

  /** band-table CTEs ending in bt(k, band, bh[HUGEINT]). Assumes
    * rowsPerBand == 2 (two chained mix64 folds, reference Config).
    */
  private def bandCtes(docsSql: String, cfg: graft.operators.MinHashLSH.Config): String = {
    require(cfg.rowsPerBand == 2, "oracle band fold is generated for rowsPerBand=2")
    val bandVals = (0 until cfg.bands)
      .map(bi => s"($bi, ${0x6a0917b1L + bi}::HUGEINT)").mkString(", ")
    s"""${sigCtes(docsSql, cfg)},
       |bandseed(band, h0) AS (VALUES $bandVals),
       |bjoin AS (SELECT s0.k AS k, b.band AS band, ${xor("b.h0", "s0.m")} AS z0, s1.m AS m1
       |          FROM bandseed b JOIN sigu s0 ON s0.i = b.band * 2 JOIN sigu s1 ON s1.k = s0.k AND s1.i = b.band * 2 + 1),
       |${mixCtes("bjoin", "z0", "h1", "ba")},
       |bz AS (SELECT k, band, ${xor("h1", "m1")} AS z0 FROM ba3),
       |${mixCtes("bz", "z0", "bh", "bb")},
       |bt AS (SELECT k, band, bh FROM bb3)""".stripMargin
  }

  /** Oracle: (k, band, band_hash) LSH band table, signed. */
  def bandTableSql(docsSql: String, cfg: graft.operators.MinHashLSH.Config): String =
    s"""WITH ${bandCtes(docsSql, cfg)}
       |SELECT k, CAST(band AS INT) AS band, ${signed("bh")} AS band_hash FROM bt""".stripMargin

  /** Oracle: (a, b) distinct candidate pairs sharing >= 1 band bucket. */
  def candidatePairsSql(docsSql: String, cfg: graft.operators.MinHashLSH.Config): String =
    s"""WITH ${bandCtes(docsSql, cfg)}
       |SELECT DISTINCT b1.k AS a, b2.k AS b
       |FROM bt b1 JOIN bt b2 ON b1.band = b2.band AND b1.bh = b2.bh AND b1.k < b2.k""".stripMargin

  /** Oracle: (a, b, jacc) candidates verified with exact shingle Jaccard
    * >= threshold (the MinHashLSH.verifiedPairs contract).
    */
  def verifiedPairsSql(docsSql: String, cfg: graft.operators.MinHashLSH.Config,
                       threshold: Double): String =
    s"""WITH ${bandCtes(docsSql, cfg)},
       |cand AS (SELECT DISTINCT b1.k AS a, b2.k AS b
       |         FROM bt b1 JOIN bt b2 ON b1.band = b2.band AND b1.bh = b2.bh AND b1.k < b2.k),
       |sizes AS (SELECT k, count(*) AS sz FROM ph GROUP BY k),
       |inter AS (SELECT c.a, c.b, count(*) AS i
       |          FROM cand c JOIN ph pa ON pa.k = c.a JOIN ph pb ON pb.k = c.b AND pb.sh = pa.sh
       |          GROUP BY c.a, c.b)
       |SELECT it.a, it.b, round(CAST(it.i AS DOUBLE) / (sa.sz + sb.sz - it.i), 6) AS jacc
       |FROM inter it JOIN sizes sa ON it.a = sa.k JOIN sizes sb ON it.b = sb.k
       |WHERE CAST(it.i AS DOUBLE) / (sa.sz + sb.sz - it.i) >= $threshold""".stripMargin

  /** Oracle: (k, simhash) over char n-gram BAG shingles (SimHash.simhashes
    * semantics: Shingles.allHashes keeps duplicates, no dedup).
    */
  def simhashSql(docsSql: String, n: Int): String = {
    val bitVals = (0 until 64)
      .map(j => s"($j, ${BigInt(1) << j}::HUGEINT)").mkString(", ")
    s"""WITH docs AS ($docsSql),
       |grams AS (SELECT k, substr(text, i, $n) AS g
       |          FROM (SELECT k, text, unnest(generate_series(1, length(text) - ${n - 1})) AS i FROM docs WHERE length(text) >= $n)),
       |ph AS (SELECT k, list_reduce(list_prepend(0::HUGEINT, list_transform(range(1, length(g)+1), i -> ord(substr(g, i, 1))::HUGEINT)), (h, c) -> (h * 131 + c) % 2305843009213693951) AS z0 FROM grams),
       |${mixCtes("ph", "z0", "m", "sm")},
       |bits(j, p) AS (VALUES $bitVals),
       |votes AS (SELECT k, j, p, sum(CASE WHEN (m // p) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |          FROM sm3 CROSS JOIN bits GROUP BY k, j, p),
       |outv AS (SELECT k, sum(CASE WHEN v > 0 THEN p ELSE 0::HUGEINT END) AS s64 FROM votes GROUP BY k)
       |SELECT k, ${signed("s64")} AS simhash FROM outv""".stripMargin
  }

  /** Oracle for AnnCosine.lshTopKInt over integer-valued vectors derived
    * deterministically from vec_id: component j of vector id is
    * floorMod(mix64(id*131 + j), 17) - 8, and the hyperplanes are
    * AnnCosine.intPlaneVal's [-3,3] integers (inlined as literals -- they
    * are compile-time constants of (tables, planeBits, dim)). Every bucket
    * bit is the sign of an exact integer dot product and the re-rank
    * cosine divides an exact integer dot by a product of correctly-rounded
    * sqrts, so both engines produce bit-identical orderings.
    */
  /** Shared CTEs: (id, j, v) integer vector components + (id, t, bucket)
    * sign-LSH buckets. `eidExpr` derives the base-vector id (planted
    * near-dups reuse an earlier id's base), `deltaExpr` a per-component
    * integer perturbation -- both must be mirrored exactly on the Spark
    * side.
    */
  private def intVecCtes(dim: Int, eidExpr: String, deltaExpr: String): String =
    s"""ids AS (SELECT CAST(vec_id AS BIGINT) AS id FROM embeddings),
       |eff AS (SELECT id, ($eidExpr) AS eid FROM ids),
       |cz AS (SELECT id, j, ((eid * 131 + j))::HUGEINT AS z0
       |       FROM eff CROSS JOIN (SELECT unnest(generate_series(0, ${dim - 1})) AS j)),
       |${mixCtes("cz", "z0", "m", "cm")},
       |comp AS (SELECT id, j, ((((${signed("m")}) % 17) + 17) % 17 - 8 + ($deltaExpr)) AS v FROM cm3),
       |norms AS (SELECT id, sum(v * v) AS n2 FROM comp GROUP BY id)""".stripMargin

  private def intVecBucketCtes(dim: Int, tables: Int, planeBits: Int,
                               eidExpr: String, deltaExpr: String): String = {
    val planeRows = (for {
      t <- 0 until tables; p <- 0 until planeBits; j <- 0 until dim
    } yield s"($t, $p, $j, ${graft.operators.AnnCosine.intPlaneVal(t, p, j)})")
      .mkString(", ")
    s"""${intVecCtes(dim, eidExpr, deltaExpr)},
       |planes(t, p, j, w) AS (VALUES $planeRows),
       |dots AS (SELECT c.id, pl.t, pl.p, sum(c.v * pl.w) AS d
       |         FROM comp c JOIN planes pl ON pl.j = c.j GROUP BY c.id, pl.t, pl.p),
       |buckets AS (SELECT id, t,
       |              CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |            FROM dots GROUP BY id, t)""".stripMargin
  }

  def annLshTopKSql(nQueries: Int, dim: Int, tables: Int, planeBits: Int,
                    k: Int): String =
    s"""WITH ${intVecBucketCtes(dim, tables, planeBits, "id", "0")},
       |cand AS (SELECT DISTINCT q.id AS qid, c.id AS id
       |         FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket AND q.id <> c.id
       |         WHERE q.id < $nQueries),
       |pd AS (SELECT cd.qid, cd.id, sum(a.v * b.v) AS d
       |       FROM cand cd JOIN comp a ON a.id = cd.qid
       |       JOIN comp b ON b.id = cd.id AND b.j = a.j
       |       GROUP BY cd.qid, cd.id),
       |sims AS (SELECT pd.qid, pd.id,
       |           CAST(pd.d AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS sim
       |         FROM pd JOIN norms nq ON nq.id = pd.qid JOIN norms nc ON nc.id = pd.id)
       |SELECT qid, id, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS INT) AS rn
       |FROM sims QUALIFY rn <= $k""".stripMargin

  /** Oracle for AnnCosine.nearDupPairsInt on the PLANTED corpus: every
    * id % 10 == 9 vector is id-9's base vector with +1 on component 0
    * (cosine ~0.997 near-dup); all pairs with cosine >= threshold among
    * bucket-collision candidates.
    */
  def embNearDupPairsSql(dim: Int, tables: Int, planeBits: Int,
                         threshold: Double): String =
    s"""WITH ${intVecBucketCtes(dim, tables, planeBits,
          "CASE WHEN id % 10 = 9 THEN id - 9 ELSE id END",
          "CASE WHEN id % 10 = 9 AND j = 0 THEN 1 ELSE 0 END")},
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
       |         FROM buckets x JOIN buckets y ON x.t = y.t AND x.bucket = y.bucket AND x.id < y.id),
       |pd AS (SELECT c.a, c.b, sum(va.v * vb.v) AS d
       |       FROM cand c JOIN comp va ON va.id = c.a
       |       JOIN comp vb ON vb.id = c.b AND vb.j = va.j
       |       GROUP BY c.a, c.b),
       |sims AS (SELECT pd.a, pd.b,
       |           CAST(pd.d AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS sim
       |         FROM pd JOIN norms na ON na.id = pd.a JOIN norms nb ON nb.id = pd.b)
       |SELECT a, b, round(sim, 6) AS sim FROM sims WHERE sim >= $threshold""".stripMargin

  /** Oracle for AnnCosine.ivfTopKInt: seed centroids = a deterministic
    * uniform sample (the nCells smallest SIGNED mix64(id ^ IvfSampleSalt)
    * keys, ties on id -- the same sample Spark's distributed top-k
    * draws); `rounds` Lloyd iterations with floor(mean + 0.5)
    * re-integerization (floor, not round: round-half rules differ across
    * engines on negatives); queries (id < nQueries) probe their nProbe
    * nearest cells; exact cosine re-rank. Every distance is integer
    * arithmetic, so the sample, every assignment round, the probes, and
    * the final ordering are bit-identical across engines.
    */
  def ivfTopKSql(nQueries: Int, dim: Int, nCells: Int, nProbe: Int,
                 k: Int, rounds: Int = 1): String = {
    val salt = s"${unsigned(graft.operators.AnnCosine.IvfSampleSalt)}::HUGEINT"
    val lloyd = (0 until rounds).map { r =>
      s"""d$r AS (SELECT c.id, ct.cell, sum((c.v - ct.v) * (c.v - ct.v)) AS d
         |       FROM comp c JOIN cent$r ct ON ct.j = c.j GROUP BY c.id, ct.cell),
         |a$r AS (SELECT id, cell FROM (
         |         SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn FROM d$r
         |       ) WHERE rn = 1),
         |upd$r AS (SELECT a$r.cell, c.j, floor(CAST(sum(c.v) AS DOUBLE) / count(*) + 0.5) AS v
         |        FROM a$r JOIN comp c ON c.id = a$r.id GROUP BY a$r.cell, c.j),
         |cent${r + 1} AS (SELECT c0.cell, c0.j, CAST(coalesce(u.v, c0.v) AS BIGINT) AS v
         |          FROM cent$r c0 LEFT JOIN upd$r u ON u.cell = c0.cell AND u.j = c0.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${intVecCtes(dim, "id", "0")},
       |sdz AS (SELECT id, ${xor("id::HUGEINT", salt)} AS z0 FROM ids),
       |${mixCtes("sdz", "z0", "skey", "sd")},
       |seeds AS (SELECT id, row_number() OVER (ORDER BY ${signed("skey")}, id) - 1 AS cell
       |          FROM sd3 QUALIFY cell < $nCells),
       |cent0 AS (SELECT s.cell, c.j, c.v FROM seeds s JOIN comp c ON c.id = s.id),
       |$lloyd,
       |dF AS (SELECT c.id, ct.cell, sum((c.v - ct.v) * (c.v - ct.v)) AS d
       |       FROM comp c JOIN cent$rounds ct ON ct.j = c.j GROUP BY c.id, ct.cell),
       |aF AS (SELECT id, cell FROM (
       |         SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn FROM dF
       |       ) WHERE rn = 1),
       |probes AS (SELECT id AS qid, cell FROM (
       |             SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn
       |             FROM dF WHERE id < $nQueries
       |           ) WHERE rn <= $nProbe),
       |cand AS (SELECT p.qid, a.id FROM probes p JOIN aF a ON a.cell = p.cell AND a.id <> p.qid),
       |pd AS (SELECT cd.qid, cd.id, sum(a.v * b.v) AS d
       |       FROM cand cd JOIN comp a ON a.id = cd.qid
       |       JOIN comp b ON b.id = cd.id AND b.j = a.j
       |       GROUP BY cd.qid, cd.id),
       |sims AS (SELECT pd.qid, pd.id,
       |           CAST(pd.d AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS sim
       |         FROM pd JOIN norms nq ON nq.id = pd.qid JOIN norms nc ON nc.id = pd.id)
       |SELECT qid, id, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS INT) AS rn
       |FROM sims QUALIFY rn <= $k""".stripMargin
  }
}
