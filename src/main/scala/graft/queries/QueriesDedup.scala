package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.DocHash
import graft.functions.{ColumnPlugins, Text, Vectors}
import graft.operators._

/** Deduplication family: exact, MinHash-LSH, SimHash, semantic, substring. */
private[queries] trait QueriesDedup { this: Queries.type =>

  // ---------------------------------------------------------------- q21
  // Exact dedup: keep min-id survivor per fingerprint (dup'd input)
  private[queries] def q21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    val dup = docs.filter($"doc_id" < 100)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
    Dedup.exact(docs.unionByName(dup), "text", "doc_id")
      .select($"fp", $"keeper", $"copies")
      .orderBy($"keeper")
  }
  private[queries] lazy val q21Sql =
    """WITH u AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 10000000, text FROM documents WHERE doc_id < 100)
      |SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
      | min(doc_id) AS keeper, count(*) AS copies
      |FROM u GROUP BY 1 ORDER BY keeper""".stripMargin

  // ---------------------------------------------------------------- q22
  // Exact n-gram (3-word shingle) Jaccard similarity pairs
  private[queries] def q22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents").filter($"doc_id" < 40)
      .select($"doc_id", $"text")
    // inject exact copies (id+1000) so near-dup pairs exist at any sf
    val docs = base.unionByName(base.filter($"doc_id" < 20)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text"))
    // inverted-index all-pairs join (no cross join): only docs that
    // actually share a shingle ever meet
    Dedup.jaccardPairs(docs, "text", "doc_id", minJaccard = 0.03)
      .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }
  private[queries] lazy val q22Sql =
    """WITH u AS (
      | SELECT doc_id, text FROM documents WHERE doc_id < 40
      | UNION ALL
      | SELECT doc_id + 10000000, text FROM documents WHERE doc_id < 20),
      |d AS (
      | SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS w
      | FROM u),
      |sh AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, len(w) - 1),
      |   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sgl
      | FROM d),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      | FROM sh a JOIN sh b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
      | GROUP BY 1, 2)
      |SELECT id_a, id_b,
      | round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
      |FROM inter
      |JOIN cnt ca ON ca.doc_id = id_a
      |JOIN cnt cb ON cb.doc_id = id_b
      |WHERE i * 1.0 / (ca.n + cb.n - i) > 0.03
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q25
  // MinHash+LSH near-dup candidates, oracle mode: engine-neutral
  // md5-derived 32-bit hashes (Dedup.Md5) so DuckDB replays the exact
  // signature minima and band keys bit-for-bit — the production path
  // keeps xxhash64 (spec-pinned in DedupSpec; oracle ≡ fast-path
  // candidate semantics modulo hash family)
  private[queries] def q25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    val dup = docs.filter($"doc_id" < 50)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
    Dedup.minhashCandidates(docs.unionByName(dup), "text", "doc_id",
        hash = Dedup.Md5)
      .orderBy($"id_a", $"id_b")
  }
  /** Shared DuckDB CTE prefix: word 3-shingles and their md5-derived
    * 32-bit hashes, mirroring Dedup.shingles + Dedup.md5u32 over `src`
    * (a CTE providing (doc_id, text)).
    */
  private[queries] def shingleHashCtes: String =
    """w AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS words
      | FROM src),
      |sh AS (SELECT DISTINCT doc_id,
      |  words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS sgl
      | FROM w, unnest(range(1, len(words) - 1)) t(i)
      | WHERE len(words) >= 3),
      |h AS (SELECT doc_id,
      |  ('0x' || substr(md5(sgl), 1, 8))::BIGINT AS h FROM sh)""".stripMargin
  /** DuckDB minhash signature minima + raw band keys (the Md5-mode
    * twin of Dedup.minhashSignatures + lshBandKeys).
    */
  private[queries] def minhashBandCtes(numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    // constants shared with the Spark side via DocHash.mixConsts — the
    // two engines compute the same (a·h + b) mod P minima by
    // construction
    val mins = DocHash.mixConsts(numHashes).zipWithIndex.map {
      case ((a, b), i) => s"min((h * $a + $b) % ${DocHash.MixP}) AS m$i"
    }.mkString(",\n  ")
    val bandSel = (0 until bands).map { b =>
      val key = (b * rows until (b + 1) * rows).map(i => s"m$i::VARCHAR")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS bk FROM m"
    }.mkString("\n UNION ALL ")
    s"""m AS (SELECT doc_id,
       |  $mins
       | FROM h GROUP BY doc_id),
       |b AS ($bandSel)""".stripMargin
  }
  private[queries] lazy val q25Sql =
    s"""WITH src AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT doc_id + 10000000 AS doc_id, text FROM documents
       | WHERE doc_id < 50),
       |$shingleHashCtes,
       |${minhashBandCtes(32, 8)}
       |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |FROM b a JOIN b b2
       | ON a.band = b2.band AND a.bk = b2.bk AND a.doc_id < b2.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q26
  // SimHash near-dup candidates, oracle mode: 32-bit md5-hash
  // signature (4 bands × 8 bits keeps the hamming ≤ 3 guarantee);
  // DuckDB recomputes the majority-vote bits and hamming distances
  // exactly. Production path stays 64-bit xxhash64.
  private[queries] def q26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    val dup = docs.filter($"doc_id" < 50)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
    Dedup.simhashCandidates(docs.unionByName(dup), "text", "doc_id",
        hash = Dedup.Md5)
      .orderBy($"id_a", $"id_b")
  }
  private[queries] lazy val q26Sql = {
    val bitSums = (0 until 32).map(j => s"sum((h >> $j) & 1) AS b$j")
      .mkString(",\n  ")
    val sigExpr = (0 until 32).map(j =>
      s"(CASE WHEN b$j * 2 > n THEN (1::BIGINT << $j) ELSE 0 END)")
      .mkString(" |\n   ")
    s"""WITH src AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT doc_id + 10000000 AS doc_id, text FROM documents
       | WHERE doc_id < 50),
       |$shingleHashCtes,
       |s AS (SELECT doc_id, count(*) AS n,
       |  $bitSums
       | FROM h GROUP BY doc_id),
       |g AS (SELECT doc_id,
       |  $sigExpr AS sig
       | FROM s),
       |bd AS (SELECT doc_id, band, (sig >> (band * 8)) & 255 AS bits
       | FROM g, unnest(range(0, 4)) t(band)),
       |p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       | FROM bd a JOIN bd b2
       | ON a.band = b2.band AND a.bits = b2.bits AND a.doc_id < b2.doc_id)
       |SELECT p.id_a, p.id_b,
       | bit_count(xor(ga.sig, gb.sig))::BIGINT AS dist
       |FROM p
       |JOIN g ga ON p.id_a = ga.doc_id
       |JOIN g gb ON p.id_b = gb.doc_id
       |WHERE bit_count(xor(ga.sig, gb.sig)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------- q61
  // Dedup cluster resolution: exact-Jaccard pairs (q22's corpus) →
  // connected components → (id, cluster = min id of component). The
  // oracle mirrors the transitive closure with a recursive CTE —
  // exponential on big graphs, exact on this bounded corpus; the Spark
  // side is the O(log n)-round label propagation that scales.
  private[queries] def q61(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents").filter($"doc_id" < 40)
      .select($"doc_id", $"text")
    val docs = base.unionByName(base.filter($"doc_id" < 20)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text"))
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", minJaccard = 0.03)
      .select($"id_a", $"id_b")
    Dedup.resolveClusters(pairs).orderBy($"id")
  }
  private[queries] lazy val q61Sql =
    """WITH RECURSIVE u AS (
      | SELECT doc_id, text FROM documents WHERE doc_id < 40
      | UNION ALL
      | SELECT doc_id + 10000000, text FROM documents WHERE doc_id < 20),
      |d AS (
      | SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS w
      | FROM u),
      |sh AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, len(w) - 1),
      |   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sgl
      | FROM d),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      | FROM sh a JOIN sh b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
      | GROUP BY 1, 2),
      |pairs AS (
      | SELECT id_a, id_b FROM inter
      | JOIN cnt ca ON ca.doc_id = id_a
      | JOIN cnt cb ON cb.doc_id = id_b
      | WHERE i * 1.0 / (ca.n + cb.n - i) > 0.03),
      |edges AS (
      | SELECT id_a AS src, id_b AS dst FROM pairs
      | UNION ALL
      | SELECT id_b, id_a FROM pairs),
      |walk AS (
      | SELECT src AS id, src AS reach FROM edges
      | UNION
      | SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src)
      |SELECT id, min(reach) AS cluster FROM walk
      |GROUP BY id ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- q79
  // Dedup capstone: candidates → exact-Jaccard verify → connected-
  // component clusters → anti-join survivors, end to end. Exact
  // jaccardPairs candidates (zero LSH misses) so the survivor set is
  // DuckDB-oracle-able via the recursive-CTE closure; the LSH-candidate
  // production path (dropNearDups) shares this exact composition tail.
  private[queries] def q79(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents").filter($"doc_id" < 40)
      .select($"doc_id", $"text", $"n_chars")
    val docs = base.unionByName(base.filter($"doc_id" < 20)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text", $"n_chars"))
    val cands = Dedup.jaccardPairs(docs, "text", "doc_id", minJaccard = 0.5)
      .select($"id_a", $"id_b")
    Dedup.dropNearDupsWith(docs, "text", "doc_id", cands, minJaccard = 0.8)
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }
  private[queries] lazy val q79Sql =
    """WITH RECURSIVE u AS (
      | SELECT doc_id, text, n_chars FROM documents WHERE doc_id < 40
      | UNION ALL
      | SELECT doc_id + 10000000, text, n_chars
      | FROM documents WHERE doc_id < 20),
      |d AS (
      | SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS w
      | FROM u),
      |sh AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, len(w) - 1),
      |   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sgl
      | FROM d),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      | FROM sh a JOIN sh b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
      | GROUP BY 1, 2),
      |pairs AS (
      | SELECT id_a, id_b FROM inter
      | JOIN cnt ca ON ca.doc_id = id_a
      | JOIN cnt cb ON cb.doc_id = id_b
      | WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8),
      |edges AS (
      | SELECT id_a AS src, id_b AS dst FROM pairs
      | UNION ALL
      | SELECT id_b, id_a FROM pairs),
      |walk AS (
      | SELECT src AS id, src AS reach FROM edges
      | UNION
      | SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
      |losers AS (
      | SELECT id FROM walk GROUP BY id HAVING id <> min(reach))
      |SELECT doc_id, n_chars FROM u
      |WHERE doc_id NOT IN (SELECT id FROM losers)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q80
  // Incremental dedup: a delta's signatures banded against a persisted
  // corpus signature index — broadcast delta, ONE index scan, no
  // corpus recompute. Oracle mode (Dedup.Md5): DuckDB rebuilds both
  // signature sets and keeps only pairs touching the delta (delta ids
  // are all ≥ 10⁷). Fast-path ≡ full-batch equivalence stays
  // spec-pinned in DedupSpec.
  private[queries] def q80(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    val index = docs.filter($"doc_id" % 5 =!= 0)
    val delta = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
    Dedup.incrementalCandidates(
        Dedup.minhashSignatures(index, "text", "doc_id", hash = Dedup.Md5),
        Dedup.minhashSignatures(delta, "text", "doc_id", hash = Dedup.Md5),
        hash = Dedup.Md5)
      .orderBy($"id_a", $"id_b")
  }
  private[queries] lazy val q80Sql =
    s"""WITH src AS (
       | SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
       | UNION ALL
       | SELECT doc_id + 10000000 AS doc_id, text FROM documents
       | WHERE doc_id % 5 = 0),
       |$shingleHashCtes,
       |${minhashBandCtes(32, 8)}
       |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |FROM b a JOIN b b2
       | ON a.band = b2.band AND a.bk = b2.bk AND a.doc_id < b2.doc_id
       |WHERE a.doc_id >= 10000000 OR b2.doc_id >= 10000000
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q112
  // SemDeDup semantic deduplication (Similarity.semanticDedup): docs
  // whose EMBEDDINGS are near-identical are redundant even when the
  // text differs — the embedding-space counterpart of q79's lexical
  // capstone. Exact mode (bits = 0, q47's contract) so DuckDB can
  // replay the candidate set; the oracle folds all-pairs cosine ≥ τ →
  // recursive-CTE component closure → min-id survivors (q79's closure
  // shape over vectors). The LSH-bucketed production mode shares this
  // composition tail and stays recall-pinned in VectorSimilaritySpec.
  private[queries] def q112(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "embeddings").filter($"vec_id" < 200)
      .select($"vec_id", $"embedding", $"label")
    val emb = base.unionByName(base.filter($"vec_id" < 50)
      .select(($"vec_id" + 10000000L).as("vec_id"), $"embedding", $"label"))
    Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.8, dim = 64, bits = 0)
      .select($"vec_id", $"label".cast("long").as("label"))
      .orderBy($"vec_id")
  }
  private[queries] lazy val q112Sql =
    """WITH RECURSIVE e AS (
      | SELECT vec_id, embedding::DOUBLE[] AS v, label
      |  FROM embeddings WHERE vec_id < 200
      | UNION ALL
      | SELECT vec_id + 10000000, embedding::DOUBLE[], label
      |  FROM embeddings WHERE vec_id < 50),
      |p AS (
      | SELECT a.vec_id AS id_a, b.vec_id AS id_b
      | FROM e a JOIN e b ON a.vec_id < b.vec_id
      | WHERE list_dot_product(a.v, b.v)
      |   / (sqrt(list_dot_product(a.v, a.v))
      |    * sqrt(list_dot_product(b.v, b.v))) > 0.8),
      |edges AS (
      | SELECT id_a AS src, id_b AS dst FROM p
      | UNION ALL
      | SELECT id_b, id_a FROM p),
      |walk AS (
      | SELECT src AS id, src AS reach FROM edges
      | UNION
      | SELECT w.id, x.dst FROM walk w JOIN edges x ON w.reach = x.src),
      |losers AS (
      | SELECT id FROM walk GROUP BY id HAVING id <> min(reach))
      |SELECT vec_id, CAST(label AS BIGINT) AS label FROM e
      |WHERE vec_id NOT IN (SELECT id FROM losers)
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q120
  // SemDeDup, k-means-bucketed (Similarity.semanticDedupIvf): the
  // paper's actual candidate generator — compare only within a fitted
  // IvfModel's cells (nprobe = 1; Abbas et al. §2). Unlike q112's
  // exact mode, the BUCKETED algorithm itself is under the oracle
  // here: the fitted centroids become FROZEN literals in generated
  // SQL (the q76 fitted-model pattern), DuckDB re-derives each
  // vector's cell with the same left-assoc squared-L2 chains +
  // first-minimum argmin the NearestCells kernel runs, restricts
  // candidate pairs to shared cells, exact-cosine-verifies, walks the
  // closure, and keeps min-id survivors.
  private[queries] lazy val q120Fitted =
    new Oracle.Fitted[Similarity.IvfModel](q120SqlFor)
  private[queries] def q120(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "embeddings").filter($"vec_id" < 200)
      .select($"vec_id", $"embedding", $"label")
    val emb = base.unionByName(base.filter($"vec_id" < 50)
      .select(($"vec_id" + 10000000L).as("vec_id"), $"embedding", $"label"))
    val model = q120Fitted(dir)(
      Similarity.fitIvf(emb, "embedding", nlist = 8))
    Similarity.semanticDedupIvf(emb, "vec_id", "embedding",
        threshold = 0.8, model, nprobe = 1)
      .select($"vec_id", $"label".cast("long").as("label"))
      .orderBy($"vec_id")
  }

  private[queries] def q120SqlFor(model: Similarity.IvfModel): String = {
    def dd(x: Double) = java.lang.Double.toString(x)
    // per-cell squared-L2 as a left-assoc `+` chain — bit-equal to
    // VectorKernels.nearestCells' ascending-index fold; argmin by
    // list_position(dc, list_min(dc)) = first strict minimum, the
    // kernel's tie-break
    val chains = model.centroids.map { cent =>
      cent.zipWithIndex.map { case (x, i) =>
        s"(v[${i + 1}]-(${dd(x)}))*(v[${i + 1}]-(${dd(x)}))"
      }.mkString("+")
    }
    s"""WITH RECURSIVE e AS (
       | SELECT vec_id, embedding::DOUBLE[] AS v, label
       |  FROM embeddings WHERE vec_id < 200
       | UNION ALL
       | SELECT vec_id + 10000000, embedding::DOUBLE[], label
       |  FROM embeddings WHERE vec_id < 50),
       |d AS (SELECT vec_id, v, label,
       |  [${chains.mkString(",\n   ")}] AS dc
       | FROM e),
       |c AS (SELECT vec_id, v, label,
       |  list_position(dc, list_min(dc)) AS cell FROM d),
       |p AS (
       | SELECT a.vec_id AS id_a, b.vec_id AS id_b
       | FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
       | WHERE list_dot_product(a.v, b.v)
       |   / (sqrt(list_dot_product(a.v, a.v))
       |    * sqrt(list_dot_product(b.v, b.v))) > 0.8),
       |edges AS (
       | SELECT id_a AS src, id_b AS dst FROM p
       | UNION ALL
       | SELECT id_b, id_a FROM p),
       |walk AS (
       | SELECT src AS id, src AS reach FROM edges
       | UNION
       | SELECT w.id, x.dst FROM walk w JOIN edges x ON w.reach = x.src),
       |losers AS (
       | SELECT id FROM walk GROUP BY id HAVING id <> min(reach))
       |SELECT vec_id, CAST(label AS BIGINT) AS label FROM e
       |WHERE vec_id NOT IN (SELECT id FROM losers)
       |ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q122
  // EXACT SUBSTRING DEDUP (Lee, Ippolito et al., ACL 2022): the
  // span-level operator doc-level dedup can't express — repeated
  // PASSAGES (boilerplate, licenses) recur across otherwise-distinct
  // docs. A 12-token boilerplate tail is planted on every 3rd doc;
  // duplicateSpans fingerprints every token 6-gram scan-side, keeps
  // each gram's globally-first (doc, pos) site via one fingerprint-
  // keyed window, merges overlapping duplicate sites per doc
  // (gaps-and-islands), and stripDuplicateSpans rewrites the token
  // stream without them. Md5 gram mode so DuckDB replays the
  // fingerprints bit-for-bit; the oracle re-runs the whole pipeline —
  // grams, first-occurrence ranking, interval merge, strip — in SQL.
  // Natural repeats inside the synthetic text dedup identically on
  // both engines. NOTE: q125Sql embeds this strip pipeline (and
  // q123's scoring chain) VERBATIM as a deliberately self-contained
  // composition oracle — a semantic change here must be mirrored
  // there (the capstone's Spark side calls the same operators, so
  // the q125 gate catches silent drift).
  private[queries] def q122(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = t(s, dir, "documents").filter($"doc_id" < 400)
      .select($"doc_id", when($"doc_id" % 3 === 0,
          concat($"text", lit(" " + q122Boiler)))
        .otherwise($"text").as("text"))
    val spans = Dedup.duplicateSpans(corpus, "doc_id", "text", k = 6,
      hash = Dedup.Md5)
    Dedup.stripDuplicateSpans(corpus, "doc_id", "text", spans)
      .orderBy($"doc_id")
  }
  private[queries] lazy val q122Boiler = "subscribe to our newsletter for the " +
    "latest updates and exclusive offers today"
  private[queries] lazy val q122Sql = {
    // Dedup.md5u32 mirror: first 8 hex chars of md5 as BIGINT
    val gram = (1 to 6).map(j => s"tk[p+$j]").mkString(" || ' ' || ")
    s"""WITH corpus AS (
      | SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN text || ' $q122Boiler'
      |   ELSE text END AS text
      | FROM documents WHERE doc_id < 400),
      |toks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text),
      |   '\\s+'), x -> len(x) > 0) AS tk
      | FROM corpus),
      |gp AS (
      | SELECT doc_id, tk, unnest(range(len(tk) - 5)) AS p
      | FROM toks WHERE len(tk) >= 6),
      |grams AS (
      | SELECT doc_id, p AS pos,
      |  ('0x' || substr(md5($gram), 1, 8))::BIGINT AS fp
      | FROM gp),
      |sites AS (
      | SELECT doc_id, pos,
      |  row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
      | FROM grams),
      |dup AS (
      | SELECT doc_id, pos AS s, pos + 6 AS e FROM sites WHERE rn > 1),
      |flag AS (
      | SELECT doc_id, s, e,
      |  CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
      |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    -1) THEN 1 ELSE 0 END AS ng
      | FROM dup),
      |grp AS (
      | SELECT doc_id, s, e,
      |  sum(ng) OVER (PARTITION BY doc_id ORDER BY s) AS g
      | FROM flag),
      |spans AS (
      | SELECT doc_id, g, min(s) AS ss, max(e) AS se
      | FROM grp GROUP BY doc_id, g),
      |tp AS (
      | SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos
      | FROM toks),
      |kept AS (
      | SELECT k.doc_id, k.pos, k.tok FROM tp k
      | WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |   WHERE sp.doc_id = k.doc_id
      |    AND k.pos >= sp.ss AND k.pos < sp.se)),
      |agg AS (
      | SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
      |  count(*) AS kept FROM kept GROUP BY doc_id)
      |SELECT c.doc_id,
      | coalesce(a.clean_text, '') AS clean_text,
      | CAST(coalesce(a.kept, 0) AS BIGINT) AS kept_tokens,
      | CAST(coalesce(len(t.tk), 0) - coalesce(a.kept, 0) AS BIGINT)
      |   AS removed_tokens
      |FROM corpus c JOIN toks t USING (doc_id)
      |LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q162
  // C4-style LINE-level boilerplate removal (Dedup.dedupLines,
  // arXiv:1910.10683 §2.2): lines recurring across ≥5 documents —
  // the universal header, the half-corpus footer, the ~29-doc
  // tag-{id%7} lines — are stripped from EVERY document; unique body
  // lines and the 2-3-doc rare-{id%67} lines stay (the threshold cuts
  // BETWEEN the families, so both directions are pinned). The oracle
  // replays the whole pipeline relationally: split → per-line
  // distinct-doc counts over the SAME md5 fingerprint → anti-filter →
  // order-preserving reassembly.
  private[queries] def q162(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id",
        concat(
          lit("HDR\nbody-"), $"doc_id".cast("string"),
          lit("-a\nbody-"), $"doc_id".cast("string"),
          lit("-b\ntag-"), ($"doc_id" % 7).cast("string"),
          lit("\nrare-"), ($"doc_id" % 67).cast("string"),
          when($"doc_id" % 2 === 0, lit("\nFTR")).otherwise(lit("")))
          .as("text"))
    Dedup.dedupLines(corpus, "doc_id", "text", minDupDocs = 5)
      .orderBy($"doc_id")
  }
  private[queries] lazy val q162Sql =
    """WITH docs AS (
      | SELECT doc_id,
      |  'HDR' || chr(10) || 'body-' || doc_id || '-a' || chr(10)
      |   || 'body-' || doc_id || '-b' || chr(10)
      |   || 'tag-' || (doc_id % 7) || chr(10)
      |   || 'rare-' || (doc_id % 67)
      |   || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'FTR'
      |      ELSE '' END AS text
      | FROM documents WHERE doc_id < 200),
      |ls AS (
      | SELECT doc_id, i AS pos,
      |  list_extract(string_split(text, chr(10)), i) AS line
      | FROM docs,
      |  unnest(generate_series(1,
      |    len(string_split(text, chr(10))))) t(i)),
      |cnt AS (
      | SELECT md5(line) AS lh, count(DISTINCT doc_id) AS n
      | FROM ls GROUP BY 1),
      |kept AS (
      | SELECT ls.* FROM ls
      | WHERE md5(ls.line) NOT IN (SELECT lh FROM cnt WHERE n >= 5)),
      |tot AS (SELECT doc_id, count(*) AS n FROM ls GROUP BY 1),
      |agg AS (
      | SELECT doc_id,
      |  string_agg(line, chr(10) ORDER BY pos) AS text,
      |  count(*) AS n_kept
      | FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, coalesce(a.text, '') AS text,
      | CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
      | CAST(t.n - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
      |FROM tot t LEFT JOIN agg a USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q190
  // q80's incremental dedup served from the PERSISTED pre-banded
  // index: the corpus's band buckets are written to parquet through
  // Layout.byKey("band_hash") — the on-disk form streamingDedup
  // maintains — and the delta probes them through
  // Dedup.incrementalCandidatesPruned (bounded band-key collect
  // pushed into the scan as an In() literal). The oracle IS q80's
  // SQL: persisted-pruned serve ≡ in-memory recompute, proven
  // cross-engine (the q180 ≡ q172 pattern). Md5 oracle mode makes
  // the band keys DuckDB-replayable strings.
  private[queries] def q190(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q190")
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    val index = docs.filter($"doc_id" % 5 =!= 0)
    val delta = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
    Layout.byKey(Dedup.bandBuckets(
        Dedup.minhashSignatures(index, "text", "doc_id",
          hash = Dedup.Md5), hash = Dedup.Md5), "band_hash", 4)
      .write.mode("overwrite").parquet(s"$tmp/idx")
    Dedup.incrementalCandidatesPruned(
        s.read.parquet(s"$tmp/idx"),
        Dedup.bandBuckets(Dedup.minhashSignatures(delta, "text",
          "doc_id", hash = Dedup.Md5), hash = Dedup.Md5))
      .orderBy($"id_a", $"id_b")
  }
  // persisted-pruned ≡ recompute: the oracle is literally q80's
  private[queries] def q190Sql: String = q80Sql
}
