package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.DocHash
import graft.operators.{Dedup, Retrieval, Similarity}

/** The per-document hashing kernels (MinHash minima, hash embedding,
  * md5u32) against independent references: a plain-Scala
  * re-implementation over JDK MD5 and Spark's interpreted xxhash64, and
  * the relational Spark SQL formulations the kernels replaced.
  * Comparisons are bit-for-bit.
  */
class DocHashSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val families = Seq(Dedup.Xx64, Dedup.Md5)

  // ---------------------------------------------------------- corpus

  private val vocab = Seq("the", "quick", "Brown", "FOX", "a", "b", "x1",
    "Việt", "NAM", "đường", "Hà", "Nội", "phố", "ĐÀ", "nẵng", "tiếng",
    "Ưu", "tiên", "ổn", "định", "42", "—", "über", "çà")
  private val seps = Seq(" ", " ", " ", "  ", "\t", "\n", "\r\n", " \t ",
    "\u000B", "\f", "   ")

  /** Random texts: runs of mixed-case ASCII/Vietnamese words joined by
    * every whitespace kind, with optional leading/trailing separators.
    */
  private val textGen: Gen[String] = for {
    n <- Gen.frequency(3 -> Gen.choose(0, 3), 5 -> Gen.choose(4, 40))
    ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    ss <- Gen.listOfN(n + 1, Gen.oneOf(seps))
    lead <- Gen.oneOf(true, false)
    trail <- Gen.oneOf(true, false)
  } yield {
    // a separator before every word, one after the last
    val body = ws.zip(ss).map { case (w, s) => s + w }.mkString
    (if (lead) body else body.drop(ss.head.length)) +
      (if (trail) ss.last else "")
  }

  private val edgeTexts: Seq[String] = Seq(null, "", " ", "\t\n ", "one",
    "one two", "  one \t two  ", "one two three", "ONE Two tHREE",
    "a\tb\nc\rd\u000Be\ff", "Tiếng   Việt\n\nCÓ dấu", "x x x x x x")

  private def corpus(seed: Long, n: Int): Seq[String] =
    edgeTexts ++ Gen.listOfN(n, textGen)(Gen.Parameters.default,
      Seed(seed)).get

  // ------------------------------------------------------- reference

  private def words(t: String): Seq[String] =
    t.toLowerCase(java.util.Locale.ROOT).split("[ \t\n\u000B\f\r]+")
      .filter(_.nonEmpty).toSeq

  private def md5u32Ref(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  private def xxStr(s: String, seed: Long): Long =
    XxHash64Function.hash(UTF8String.fromString(s), StringType, seed)

  private def minhashRef(t: String, numHashes: Int,
                         hash: Dedup.SigHash): Option[Seq[Long]] = {
    val ws = Option(t).map(words).getOrElse(Nil)
    if (ws.length < 3) None
    else {
      val shingles = ws.sliding(3).toSeq
      val mix = DocHash.mixConsts(numHashes)
      Some((0 until numHashes).map { p =>
        shingles.map { sg =>
          hash match {
            case Dedup.Xx64 =>
              val h = sg.foldLeft(42L)((acc, w) => xxStr(w, acc))
              XxHash64Function.hash(p, IntegerType,
                XxHash64Function.hash(h, LongType, 42L))
            case Dedup.Md5 =>
              val (a, b) = mix(p)
              (md5u32Ref(sg.mkString(" ")) * a + b) % DocHash.MixP
          }
        }.min
      })
    }
  }

  private def embedRef(t: String, dim: Int,
                       hash: Dedup.SigHash): Option[Seq[Double]] = {
    if (t == null) return None
    val v = new Array[Double](dim)
    words(t).foreach { tk =>
      val (i, s) = hash match {
        case Dedup.Xx64 =>
          val h = xxStr(tk, 42L)
          val sg = XxHash64Function.hash(1, IntegerType, h)
          (Math.floorMod(h, dim.toLong).toInt,
            if (Math.floorMod(sg, 2L) == 0L) 1.0 else -1.0)
        case Dedup.Md5 =>
          val h = md5u32Ref(tk)
          ((h % dim).toInt, if ((h >> 16) % 2 == 0) 1.0 else -1.0)
      }
      v(i) += s
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0.0) Some(v.map(_ / n).toSeq) else None
  }

  private def texts(ts: Seq[String]): DataFrame =
    ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  // ----------------------------------------------------------- specs

  test("property: MinHash kernel ≡ plain-Scala reference, both hash " +
      "families, several numHashes") {
    Seq(1, 7, 32, 64).zipWithIndex.foreach { case (numHashes, trial) =>
      val ts = corpus(71L + trial, 60)
      families.foreach { hash =>
        val got = texts(ts)
          .select($"id", Dedup.minhashSignature($"text", numHashes, hash))
          .collect().map(r => r.getLong(0).toInt ->
            Option(r.getSeq[Long](1)).map(_.toSeq)).toMap
        ts.zipWithIndex.foreach { case (t, i) =>
          assert(got(i) == minhashRef(t, numHashes, hash),
            s"$hash numHashes=$numHashes text=${Option(t).map(_.take(80))}")
        }
      }
    }
  }

  test("property: hash-embedding kernel ≡ plain-Scala reference, both " +
      "hash families, several dims") {
    Seq(1, 8, 16, 64).zipWithIndex.foreach { case (dim, trial) =>
      val ts = corpus(91L + trial, 60)
      families.foreach { hash =>
        val got = texts(ts)
          .select($"id", Similarity.hashEmbedding($"text", dim, hash))
          .collect().map(r => r.getLong(0).toInt ->
            Option(r.getSeq[Double](1)).map(_.toSeq)).toMap
        ts.zipWithIndex.foreach { case (t, i) =>
          assert(got(i) == embedRef(t, dim, hash),
            s"$hash dim=$dim text=${Option(t).map(_.take(80))}")
        }
      }
    }
  }

  test("MinHash kernel ≡ the relational plan it replaced (Spark's lower, " +
      "split, md5/conv and multi-arg xxhash64), both families") {
    val df = texts(corpus(113L, 120))
    val numHashes = 16
    families.foreach { hash =>
      val hashed = hash match {
        case Dedup.Xx64 => df.select($"id",
          explode(Dedup.shingleHashes(Retrieval.tokens($"text"))).as("h"))
        case Dedup.Md5 => df.select($"id",
            explode(Dedup.shingles(Retrieval.tokens($"text"))).as("sgl"))
          .select($"id", conv(substring(md5($"sgl"), 1, 8), 16, 10)
            .cast("long").as("h"))
      }
      val mix = DocHash.mixConsts(numHashes)
      val mins = (0 until numHashes).map { p =>
        min(hash match {
          case Dedup.Xx64 => xxhash64($"h", lit(p))
          case Dedup.Md5 => ($"h" * mix(p)._1 + mix(p)._2) % DocHash.MixP
        }).as(s"m$p")
      }
      val want = hashed.groupBy($"id").agg(mins.head, mins.tail: _*)
        .collect().map(r => r.getLong(0) ->
          (1 to numHashes).map(r.getLong)).toMap
      val got = Dedup.minhashSignatures(df, "text", "id", numHashes, hash)
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1)))
        .toMap
      // zero-shingle docs had no row; they now carry a null signature
      assert(got.collect { case (id, Some(s)) => id -> s.toSeq } == want,
        s"$hash")
    }
  }

  test("hash-embedding kernel ≡ the per-token relational hashing it " +
      "replaced (Spark's md5/conv and xxhash64), both families") {
    val df = texts(corpus(127L, 120))
    val dim = 16
    val tok = df.select($"id",
      explode(array_remove(split(lower($"text"), "\\s+"), "")).as("tk"))
    families.foreach { hash =>
      val bucketed = hash match {
        case Dedup.Xx64 => tok.select($"id",
          pmod(xxhash64($"tk"), lit(dim)).cast("int").as("idx"),
          when(pmod(xxhash64($"tk", lit(1)), lit(2)) === 0, 1.0)
            .otherwise(-1.0).as("s"))
        case Dedup.Md5 =>
          tok.select($"id", conv(substring(md5($"tk"), 1, 8), 16, 10)
              .cast("long").as("h"))
            .select($"id", ($"h" % dim).cast("int").as("idx"),
              when(shiftright($"h", 16) % 2 === 0, 1.0).otherwise(-1.0)
                .as("s"))
      }
      val sparse = bucketed.groupBy($"id", $"idx").agg(sum($"s").as("v"))
        .collect().groupBy(_.getLong(0)).map { case (id, rs) =>
          val v = new Array[Double](dim)
          rs.foreach(r => v(r.getInt(1)) = r.getDouble(2))
          val n = math.sqrt(v.map(x => x * x).sum)
          id -> (if (n > 0.0) Some(v.map(_ / n).toSeq) else None)
        }
      val got = df.select($"id", Similarity.hashEmbedding($"text", dim, hash))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))
          .map(_.toSeq)).toMap
      got.foreach { case (id, g) =>
        assert(g == sparse.getOrElse(id, None), s"$hash id=$id")
      }
    }
  }

  test("md5u32: native MD5 ≡ first 8 hex chars of Spark's md5 via conv, " +
      "across block boundaries") {
    val lens = Seq(0, 1, 3, 54, 55, 56, 57, 63, 64, 65, 119, 120, 128, 300)
    val ts = lens.map(n => (0 until n).map(i => ('a' + i % 26).toChar)
      .mkString) ++ corpus(139L, 40).filter(_ != null) :+ null
    val df = ts.toDF("s")
    val out = df.select(Dedup.md5u32($"s"),
        conv(substring(md5($"s"), 1, 8), 16, 10).cast("long"))
      .collect()
    out.foreach(r => assert(r.get(0) == r.get(1)))
    ts.filter(_ != null).foreach(s =>
      assert(DocHash.md5u32(UTF8String.fromString(s)) == md5u32Ref(s), s))
  }
}
