package graft

import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._

/** Pins the native quantizer expressions (CellArgmin / PqEncode /
  * PqApproxDot / PqSubDistortions) to their declarative spellings — the
  * `array_min(array(struct(‖c‖²−2·ldot(v,c), i)...))` argmin and the
  * per-subspace `slice` + `element_at(typedlit)` + ldot chains they
  * replaced in r16. Covers tie-breaks (equidistant centroids must elect
  * the LOWEST index, array_min's struct order) and short vectors (a slice
  * past the end contributes only in-bounds elements). */
class PqNativeSpec extends SparkSpec {
  import spark.implicits._

  private val m = 4
  private val subDim = 4
  private val dims = m * subDim

  // deterministic "vectors" including exact-tie and short rows
  private def vecRows: Seq[(Long, Seq[Long])] = {
    val rnd = new scala.util.Random(7)
    val rand = (0 until 40).map { i =>
      (i.toLong, Seq.fill(dims)((rnd.nextInt(2001) - 1000).toLong))
    }
    val ties = Seq(
      (100L, Seq.fill(dims)(0L)),            // equidistant to mirrored centroids
      (101L, (0 until dims).map(_.toLong)))
    val short = Seq(
      (200L, Seq(5L, -3L)),                   // shorter than one subspace
      (201L, (0 until 9).map(_ => 7L).toSeq)) // ends mid-subspace 3
    rand ++ ties ++ short
  }

  // codebooks with deliberate ties: centroid 2 duplicates centroid 0 in
  // every subspace, so any vector nearest c0 is EXACTLY tied with c2 and
  // the election must return the lower index
  private val codebooks: Array[Array[Array[Long]]] =
    (0 until m).map { s =>
      Array(
        Array.fill(subDim)((s + 1).toLong),
        (0 until subDim).map(j => (j - 2).toLong * (s + 1)).toArray,
        Array.fill(subDim)((s + 1).toLong), // == centroid 0
        (0 until subDim).map(j => (100 - j).toLong).toArray)
    }.toArray

  private def declCell(v: org.apache.spark.sql.Column,
      centroids: Array[Array[Long]]): org.apache.spark.sql.Column =
    array_min(array(centroids.zipWithIndex.map { case (c, i) =>
      val cNorm = c.map(x => x * x).sum
      struct((lit(cNorm) - lit(2L) * ldot(v, lit(c))).as("d"), lit(i).as("cell"))
    }.toSeq: _*)).getField("cell")

  "CellArgmin" should "equal the array_min struct argmin incl. exact ties" in {
    val df = vecRows.toDF("id", "v")
    val cents = codebooks(0)
    val got = df.select($"id", cellArgmin($"v", cents).as("nat"),
        declCell($"v", cents).as("decl"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"id=${r.getLong(0)}")
    }
    // the tie case really is a tie: centroid 2 == centroid 0, election = 0
    val tie = df.filter($"id" === 100L)
      .select(cellArgmin($"v", cents)).head.getInt(0)
    assert(tie == 0)
  }

  "PqEncode" should "equal per-subspace sliced argmin columns" in {
    val df = vecRows.toDF("id", "v")
    val decl = (0 until m).map { s =>
      declCell(slice($"v", s * subDim + 1, subDim), codebooks(s)).as(s"c$s")
    }
    val got = df.select(
      ($"id" +: pqEncode($"v", codebooks, subDim).as("codes") +: decl): _*)
      .collect()
    got.foreach { r =>
      val codes = r.getSeq[Int](1)
      (0 until m).foreach { s =>
        assert(codes(s) == r.getInt(2 + s), s"id=${r.getLong(0)} s=$s")
      }
    }
  }

  "PqApproxDot" should "equal the slice+element_at+ldot sum" in {
    val df = vecRows.toDF("id", "qv_q")
      .withColumn("codes", pqEncode($"qv_q", codebooks, subDim))
    val decl = (0 until m).map { s =>
      ldot(slice($"qv_q", s * subDim + 1, subDim),
        element_at(typedlit(codebooks(s).map(_.toSeq).toSeq), $"codes" (s) + 1))
    }.reduce(_ + _)
    val got = df.select($"id",
        pqApproxDot($"qv_q", $"codes", codebooks, subDim).as("nat"),
        decl.as("decl"))
      .collect()
    got.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}"))
  }

  "PqSubDistortions" should "equal the per-subspace ldot distortion structs" in {
    val df = vecRows.toDF("id", "v")
      .withColumn("codes", pqEncode($"v", codebooks, subDim))
    val decl = (0 until m).map { s =>
      val sl = slice($"v", s * subDim + 1, subDim)
      val cw = element_at(typedlit(codebooks(s).map(_.toSeq).toSeq), $"codes" (s) + 1)
      (ldot(sl, sl) - lit(2L) * ldot(sl, cw) + ldot(cw, cw)).as(s"d$s")
    }
    val got = df.select(
      ($"id" +: pqSubDistortions($"v", $"codes", codebooks, subDim).as("ds") +: decl): _*)
      .collect()
    got.foreach { r =>
      val ds = r.getSeq[Long](1)
      (0 until m).foreach { s =>
        assert(ds(s) == r.getLong(2 + s), s"id=${r.getLong(0)} s=$s")
      }
    }
  }

  "PqApproxDot and PqSubDistortions" should "throw on a code array of the wrong length instead of truncating" in {
    val df = Seq((Seq.fill(dims)(1L), Seq(0, 1, 2))) // m - 1 codes
      .toDF("v", "codes")
    Seq(pqApproxDot($"v", $"codes", codebooks, subDim),
        pqSubDistortions($"v", $"codes", codebooks, subDim)).foreach { c =>
      val e = the[Exception] thrownBy df.select(c).collect()
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalArgumentException]) shouldBe true
    }
  }
}
