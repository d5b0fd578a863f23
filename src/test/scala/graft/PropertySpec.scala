package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{PipelineOps, WeatherOps}

/** Property-based checks (SURVEY §5 engine test plan): conversion
  * linearity, densify row counts, imputation mean-preservation.
  * ScalaCheck generators are sampled with fixed seeds (the scalatest
  * bridge artifact isn't in the offline cache), so runs are
  * deterministic. */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("C→F is linear and round-trips (property)") {
    val s = spark; import s.implicits._
    samples(Gen.listOfN(40, Gen.chooseNum(-100.0, 100.0)), 10).foreach { cs =>
      val got = cs.toDF("c").select(WeatherOps.celsiusToFahrenheit(col("c")).as("f"))
        .collect().map(_.getDouble(0))
      got.zip(cs).foreach { case (f, c) =>
        assert(math.abs(f - (c * 9.0 / 5.0 + 32.0)) < 1e-9)
        assert(math.abs((f - 32.0) * 5.0 / 9.0 - c) < 1e-9) // round-trip
      }
    }
  }

  test("densify always yields exactly nDays rows per city, keys unique (property)") {
    val s = spark; import s.implicits._
    samples(Gen.zip(Gen.chooseNum(1, 40), Gen.chooseNum(0, 35)), 8).foreach {
      case (nDays, presentDays) =>
        val start = java.time.LocalDate.parse("2024-01-01")
        val end = start.plusDays(nDays - 1L)
        val present = (0 until math.min(presentDays, nDays)).map(i =>
          (java.sql.Date.valueOf(start.plusDays(i.toLong)), "X", 1.0))
        val df = present.toDF("date", "city", "energy_demand_gwh")
        val dense = PipelineOps.densify(df,
          PipelineOps.dateCitySpine(spark, Seq("X"), start.toString, end.toString))
        assert(dense.count() == nDays.toLong)
        assert(dense.select("date").distinct().count() == nDays.toLong)
    }
  }

  test("per-city mean imputation preserves the column mean (property)") {
    val s = spark; import s.implicits._
    val gen = for {
      n <- Gen.chooseNum(3, 30)
      vals <- Gen.listOfN(n, Gen.option(Gen.chooseNum(-50.0, 120.0)))
    } yield vals
    samples(gen, 10).filter(_.flatten.nonEmpty).foreach { vals =>
      val df = vals.map(v => ("A", v)).toDF("city", "temp_max_f")
      val before = vals.flatten.sum / vals.flatten.size
      val after = WeatherOps.imputePerCity(df, Seq("temp_max_f"))
        .agg(avg("temp_max_f")).collect().head.getDouble(0)
      assert(math.abs(after - before) < 1e-9)
    }
  }

  test("inner join row count bounded by left side when right keys unique (property)") {
    val s = spark; import s.implicits._
    samples(Gen.zip(Gen.chooseNum(0, 25), Gen.chooseNum(0, 25)), 8).foreach {
      case (nl, nr) =>
        val left = (0 until nl).map(i => (java.sql.Date.valueOf("2024-01-01"), s"c${i % 5}", i.toDouble))
          .toDF("date", "city", "temp_avg_f")
        val right = (0 until nr).map(i => (java.sql.Date.valueOf("2024-01-01"), s"c$i", i.toDouble))
          .toDF("date", "city", "energy_demand_gwh") // unique (date, city)
        val joined = graft.operators.PipelineOps.joinWeatherEnergy(left, right)
        assert(joined.count() <= nl.toLong)
    }
  }

  test("connected components match a union-find reference on random graphs (property)") {
    val s = spark; import s.implicits._
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)).suchThat(p => p._1 != p._2))
    samples(edgeGen, 5).foreach { raw =>
      val edges = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // reference: classic union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
      // localThreshold = 0 forces the DISTRIBUTED propagation path —
      // the default would route these tiny graphs through the driver
      // union-find, which is the same algorithm as this reference
      val got = graft.operators.Dedup
        .connectedComponents(edges.toDF("doc_a", "doc_b"), localThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // min-label CC and union-find with min-root merging agree exactly
      assert(got == expected, s"edges=$edges")
    }
  }

  test("salted join equals the plain join on random skewed data (property)") {
    val s = spark; import s.implicits._
    val gen = for {
      nFact <- Gen.chooseNum(1, 60)
      keys <- Gen.listOfN(nFact, Gen.chooseNum(1L, 5L)) // few keys → skew
      salts <- Gen.chooseNum(1, 7)
    } yield (keys, salts)
    samples(gen, 8).foreach { case (keys, salts) =>
      val fact = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("k", "payload")
      val dim = keys.distinct.map(k => (k, s"d$k")).toDF("k", "label")
      val got = graft.operators.SkewJoin.saltedEquiJoin(fact, dim, Seq("k"), salts)
        .collect().map(_.toSeq).toSet
      val want = fact.join(dim, Seq("k")).collect().map(_.toSeq).toSet
      assert(got === want, s"salts=$salts keys=$keys")
    }
  }

  test("interpolated values lie within their neighbor bounds; observed rows unchanged (property)") {
    val s = spark; import s.implicits._
    val gen = Gen.listOfN(20, Gen.option(Gen.chooseNum(-50.0, 50.0)))
    samples(gen, 8).foreach { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) =>
        (1L, new java.sql.Timestamp(1700000000000L + i * 60000L), v, i.toLong)
      }
      val df = rows.toDF("k", "ts", "value", "id")
      val out = graft.operators.Interpolate.linear(df, Seq("k"), "ts", "value", Seq("id"))
        .orderBy("id").collect()
      val observed = vs.flatten
      out.zip(vs).foreach { case (r, orig) =>
        val filled = Option(r.getAs[Any]("value_filled")).map(_.asInstanceOf[Double])
        orig match {
          case Some(v) => assert(filled.contains(v), "observed row must pass through")
          case None if observed.isEmpty => assert(filled.isEmpty)
          case None =>
            // any filled gap is bounded by the series' observed range
            assert(filled.exists(f => f >= observed.min - 1e-9 && f <= observed.max + 1e-9),
              s"fill $filled outside [${observed.min}, ${observed.max}] for $vs")
        }
      }
    }
  }

  test("PSI is non-negative and zero exactly on identical histograms (property)") {
    val s = spark; import s.implicits._
    val gen = for {
      a <- Gen.listOfN(30, Gen.chooseNum(0L, 100L))
      b <- Gen.listOfN(30, Gen.chooseNum(0L, 100L))
    } yield (a, b)
    samples(gen, 6).foreach { case (a, b) =>
      val psi = graft.operators.Drift
        .histogramPsi(a.toDF("v"), b.toDF("v"), "v", nBins = 5)
        .select("psi").head().getDouble(0)
      assert(psi >= 0.0, s"PSI must be non-negative, got $psi") // Σ(p−q)ln(p/q) ≥ 0
      val self = graft.operators.Drift
        .histogramPsi(a.toDF("v"), a.toDF("v"), "v", nBins = 5)
        .select("psi").head().getDouble(0)
      assert(self === 0.0)
    }
  }

  test("Cohen's kappa stays in [-1, 1] on random raters (property)") {
    val s = spark; import s.implicits._
    val gen = Gen.listOfN(25, Gen.zip(Gen.oneOf(true, false), Gen.oneOf(true, false)))
    samples(gen, 10).foreach { rows =>
      val k = graft.operators.Agreement
        .cohenKappa(rows.toDF("a", "b"), col("a"), col("b"))
        .select("kappa").head().getDouble(0)
      assert(k >= -1.0 - 1e-9 && k <= 1.0 + 1e-9, s"kappa $k out of range for $rows")
    }
  }

  test("winsorized mean lies within the clip bounds (property)") {
    val s = spark; import s.implicits._
    val gen = Gen.listOfN(40, Gen.chooseNum(0L, 1000L))
    samples(gen, 6).foreach { vs =>
      val r = graft.operators.Quantiles
        .winsorizedStats(vs.map(("g", _)).toDF("g", "v"), "v", Seq("g"),
          loQ = 0.1, hiQ = 0.9, nBuckets = 8)
        .head()
      val (lo, hi, m) = (r.getAs[Double]("p_lo"), r.getAs[Double]("p_hi"),
        r.getAs[Double]("winsorized_mean"))
      assert(lo <= hi && m >= lo - 1e-9 && m <= hi + 1e-9,
        s"mean $m outside clip bounds [$lo, $hi] for $vs")
    }
  }
}
