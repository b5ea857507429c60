package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Engine, Registries}
import graft.core.Config.{PipelineConfig, RetrySettings, Settings, StepConfig}
import graft.functions.GraftFunctions

/** The null contract of every graft SQL function, on the generated-code and
  * the interpreted path alike:
  *   - `hash32`, `hash61`, `dotp`, `sig_matches` and `assign_cell` return
  *     null on a null argument; `dotp` counts a null element as 0;
  *   - `mg_topk` skips null values;
  *   - the window functions emit null on a row with a null input and keep
  *     their state, so every other row reads as over the series without
  *     the null rows.
  * One test per function of the provider's table: a function added to the
  * table without a contract here fails its test.
  */
class FunctionNullSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** An RDD-backed frame: its projection is planned, so it runs generated code. */
  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** `body` with generated code only, then with the interpreted evaluator only. */
  private def onBothPaths[T](body: => T): Seq[T] =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").map { case (mode, wholeStage) =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try body
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  /** `sql` over constant arguments: constant folding evaluates it interpreted. */
  private def folded(sql: String): Any = spark.range(1).select(expr(sql)).head().get(0)

  /** A scalar function: null in, null out, on an RDD-backed frame and on
    * constant arguments.
    */
  private def nullInNullOut(schema: StructType, call: String, nonNull: Row, constants: Seq[String]): Unit = {
    val nulls = schema.indices.map(i => Row.fromSeq(nonNull.toSeq.updated(i, null)))
    val out = frame(schema, nonNull +: nulls).select(expr(call)).collect().map(r => Option(r.get(0)))
    assert(out.head.isDefined, s"$call on $nonNull")
    assert(out.tail.forall(_.isEmpty), s"$call: ${out.tail.mkString(", ")}")
    constants.foreach(c => assert(folded(c) == null, c))
  }

  /** A window function over a keyed series `(k, i, inputs...)`: rows with a
    * null input emit null, and every other row equals the same call over
    * the series with those rows removed.
    */
  private def keepsState(call: String, inputs: Seq[String], rows: Seq[Seq[java.lang.Double]]): Unit = {
    val schema = StructType(StructField("k", StringType) +: StructField("i", IntegerType) +:
      inputs.map(StructField(_, DoubleType)))
    val keyed = rows.zipWithIndex.flatMap { case (r, i) =>
      Seq("a", "b").map(k => Row.fromSeq(k +: i +: r))
    }
    def run(rs: Seq[Row]): Map[(String, Int), Option[Any]] =
      frame(schema, rs)
        .select(col("k"), col("i"), expr(call).over(Window.partitionBy("k").orderBy("i")))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> Option(r.get(2))).toMap
    val isNull = (r: Row) => (2 until r.length).exists(r.isNullAt)
    val outs = onBothPaths {
      val full = run(keyed)
      val dense = run(keyed.filterNot(isNull))
      keyed.filter(isNull).foreach(r => assert(full((r.getString(0), r.getInt(1))).isEmpty, r))
      assert(dense.values.exists(_.isDefined), s"$call emits only nulls")
      assert(full.filter { case (key, _) => dense.contains(key) } == dense)
      full
    }
    assert(outs.distinct.size == 1, s"$call differs between the generated and the interpreted path")
  }

  /** The messages of the `IllegalArgumentException`s in `e`'s cause chain. */
  private def illegalArguments(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collect {
      case t: IllegalArgumentException => t.getMessage
    }.toSeq

  private def d(x: Double): java.lang.Double = x
  private val N: java.lang.Double = null

  private val contracts: Map[String, () => Unit] = Map(
    "ewm" -> { () =>
      keepsState("ewm(x, 0.5, 0)", Seq("x"), Seq(Seq(N), Seq(d(2)), Seq(N), Seq(d(4)), Seq(d(5))))
    },
    "var_ewm" -> { () =>
      keepsState("var_ewm(y, a)", Seq("y", "a"),
        Seq(Seq(N, d(0.5)), Seq(d(2), d(0.5)), Seq(d(4), N), Seq(d(6), d(0.5)), Seq(N, N)))
    },
    "psar" -> { () =>
      keepsState("psar(h, l, 0.02, 0.02, 0.2)", Seq("h", "l"),
        Seq(Seq(d(10), d(8)), Seq(N, d(7)), Seq(d(11), d(9)), Seq(d(12), N), Seq(d(13), d(10)),
          Seq(d(9), d(6)), Seq(N, N), Seq(d(8), d(5))))
    },
    "supertrend" -> { () =>
      keepsState("supertrend(ub, lb, c)", Seq("ub", "lb", "c"),
        Seq(Seq(N, d(8), d(10)), Seq(d(12), d(8), d(10)), Seq(d(13), N, d(12)), Seq(d(11), d(9), d(12)),
          Seq(d(10), d(7), N), Seq(d(12), d(8), d(6)), Seq(d(9), d(6), d(7))))
    },
    "holt" -> { () =>
      keepsState("holt(x, 0.5, 0.3)", Seq("x"),
        Seq(Seq(N), Seq(d(1)), Seq(d(3)), Seq(N), Seq(d(4)), Seq(d(6))))
    },
    "holt_winters" -> { () =>
      keepsState("holt_winters(x, 0.5, 0.3, 0.2, 2)", Seq("x"),
        Seq(Seq(d(1)), Seq(N), Seq(d(3)), Seq(d(2)), Seq(N), Seq(d(4)), Seq(d(3)), Seq(d(5))))
    },
    "hash32" -> { () =>
      nullInNullOut(StructType(Seq(StructField("s", StringType))), "hash32(s)", Row("abc"),
        Seq("hash32(CAST(NULL AS STRING))"))
    },
    "hash61" -> { () =>
      nullInNullOut(StructType(Seq(StructField("s", StringType))), "hash61(s)", Row("abc"),
        Seq("hash61(CAST(NULL AS STRING))"))
    },
    "dotp" -> { () =>
      val vec = ArrayType(DoubleType, containsNull = true)
      val schema = StructType(Seq(StructField("a", vec), StructField("b", vec)))
      nullInNullOut(schema, "dotp(a, b)", Row(Seq(1.0), Seq(2.0)),
        Seq("dotp(CAST(NULL AS ARRAY<DOUBLE>), array(1d))", "dotp(array(1d), CAST(NULL AS ARRAY<DOUBLE>))"))
      // a null element counts as 0, where the aggregate(zip_with) fold gives null
      val rows = Seq(Row(Seq(1.0, null), Seq(3.0, 4.0)), Row(Seq(null), Seq(3.0)))
      val fold = "aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, x) -> acc + x)"
      val out = frame(schema, rows).select(expr("dotp(a, b)"), expr(fold)).collect()
      assert(out.map(_.getDouble(0)).toSeq == Seq(3.0, 0.0))
      assert(out.forall(_.isNullAt(1)))
      assert(folded("dotp(array(1d, CAST(NULL AS DOUBLE)), array(3d, 4d))") == 3.0)
      assert(folded("dotp(array(CAST(NULL AS DOUBLE)), array(3d))") == 0.0)
    },
    "sig_matches" -> { () =>
      val sig = ArrayType(LongType, containsNull = true)
      nullInNullOut(StructType(Seq(StructField("a", sig), StructField("b", sig))), "sig_matches(a, b)",
        Row(Seq(1L, 2L), Seq(1L, 3L)),
        Seq("sig_matches(CAST(NULL AS ARRAY<BIGINT>), array(1L))",
          "sig_matches(array(1L), CAST(NULL AS ARRAY<BIGINT>))"))
    },
    "assign_cell" -> { () =>
      val cent = StructType(Seq(StructField("c_id", LongType), StructField("cv", ArrayType(DoubleType)),
        StructField("cn", DoubleType)))
      val schema = StructType(Seq(StructField("v", ArrayType(DoubleType)), StructField("nrm", DoubleType),
        StructField("cents", ArrayType(cent))))
      val cents = "array(named_struct('c_id', 1L, 'cv', array(1d, 0d), 'cn', 1d))"
      nullInNullOut(schema, "assign_cell(v, nrm, cents)",
        Row(Seq(1.0, 0.0), 1.0, Seq(Row(1L, Seq(1.0, 0.0), 1.0))),
        Seq(s"assign_cell(CAST(NULL AS ARRAY<DOUBLE>), 1d, $cents)",
          s"assign_cell(array(1d, 0d), CAST(NULL AS DOUBLE), $cents)",
          "assign_cell(array(1d, 0d), 1d, CAST(NULL AS ARRAY<STRUCT<c_id: BIGINT, cv: ARRAY<DOUBLE>, cn: DOUBLE>>))"))
      // a null centroid, or a null field of one, names the centroid
      val bad = Seq[(Row, String)](
        (null, "centroid at position 1 is null"),
        Row(null, Seq(0.0, 1.0), 1.0) -> "centroid at position 1 has a null c_id",
        Row(2L, null, 1.0) -> "centroid c_id 2 has a null cv",
        Row(2L, Seq(0.0, 1.0), null) -> "centroid c_id 2 has a null cn")
      bad.foreach { case (c, msg) =>
        val df = frame(schema, Seq(Row(Seq(1.0, 0.0), 1.0, Seq(Row(1L, Seq(1.0, 0.0), 1.0), c))))
        val e = intercept[Exception](df.select(expr("assign_cell(v, nrm, cents)")).collect())
        assert(illegalArguments(e).contains(s"assign_cell: $msg"), e)
      }
      val e = intercept[Exception](folded(
        "assign_cell(array(1d), 1d, array(named_struct('c_id', 3L, 'cv', CAST(NULL AS ARRAY<DOUBLE>), 'cn', 1d)))"))
      assert(illegalArguments(e).contains("assign_cell: centroid c_id 3 has a null cv"), e)
    },
    "mg_topk" -> { () =>
      val schema = StructType(Seq(StructField("g", StringType), StructField("s", StringType)))
      val rows = Seq(Row("x", "a"), Row("x", null), Row("x", "a"), Row("x", "b"), Row("x", null),
        Row("y", null), Row("y", null))
      val out = onBothPaths {
        frame(schema, rows).groupBy("g").agg(expr("mg_topk(s, 2)").as("top")).collect()
          .map(r => r.getString(0) -> r.getSeq[Row](1).map(t => (t.getString(0), t.getLong(1)))).toMap
      }
      out.foreach(o => assert(o == Map("x" -> Seq(("a", 2L), ("b", 1L)), "y" -> Nil)))
    })

  GraftFunctions.builders.map(_._1).foreach { name =>
    test(s"$name: null contract on the generated and the interpreted path") {
      contracts.get(name) match {
        case Some(check) => check()
        case None => fail(s"$name has no null contract in FunctionNullSpec")
      }
    }
  }

  test("the contract table names no function outside the provider's table") {
    assert(contracts.keySet == GraftFunctions.builders.map(_._1).toSet)
  }

  Seq("incremental_sem_dedup", "incremental_ivf").foreach { key =>
    test(s"$key: a codebook with a null centroid vector fails the run naming its c_id") {
      Registries.bootstrap()
      val dir = Files.createTempDirectory(s"graft-null-centroid-$key")
      val s = spark; import s.implicits._
      Seq((0L, Some(Array(1.0, 0.0))), (1L, None), (2L, Some(Array(0.0, 1.0))))
        .toDF("c_id", "cv").write.parquet(dir.resolve("cents").toString)
      (0 until 6).map(i => (i.toLong, "s0", Array(math.cos(i), math.sin(i))))
        .toDF("vec_id", "source", "embedding").write.parquet(dir.resolve("in").toString)
      val e = intercept[Exception](new Engine(spark).run(PipelineConfig(
        name = s"null_centroid_$key",
        extract = StepConfig("parquet_file", inlineConfig = Map("path" -> dir.resolve("in").toString)),
        transform = Seq(StepConfig(key, inlineConfig = Map(
          "centroids_path" -> dir.resolve("cents").toString,
          "state_dir" -> dir.resolve("state").toString))),
        load = StepConfig("parquet_local", inlineConfig = Map("path" -> dir.resolve("out").toString)),
        settings = Settings(retry = RetrySettings(maxAttempts = 1, backoffSeconds = 0)))))
      assert(illegalArguments(e).contains("assign_cell: centroid c_id 1 has a null cv"), e)
    }
  }
}
