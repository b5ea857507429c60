package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.core.{Engine, Loader, Registries, StatefulTransformer}
import graft.core.Config.{PipelineConfig, RetrySettings, Settings, StepConfig}

/** Save-after-load for EVERY stateful stage, driven through the engine: a
  * delivery whose load fails leaves every file under `state_dir`
  * byte-identical, and re-running it with a working loader gives the same
  * output and stores as an uninterrupted run. The table must name every
  * registered `StatefulTransformer`, and a source guard keeps the state
  * protocol's calls inside `IncrState`.
  */
class StatefulStageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One stateful stage: its registry key, its config beside `state_dir`
    * (given a scratch dir holding `cents`, a codebook), and its input.
    */
  private case class Case(key: String, conf: Path => Map[String, Any], input: () => DataFrame)

  private def texts(): DataFrame = {
    val s = spark; import s.implicits._
    (0 until 2).flatMap { sh => (0 until 12).map { i =>
      val base = if (i % 2 == 0) (i + sh * 3) % 5 else 100 + sh * 20 + i
      val words = (0 until 10).map(j => s"w${(base * 7 + j * 3) % 97}_${base % 5}")
      (sh * 100L + i, s"s$sh", (words ++ (if (i % 3 == 0) Seq(s"x$i") else Nil)).mkString(" "),
        i % 4 == 0, s"g${i % 3}")
    }}.toDF("doc_id", "source", "text", "is_bench", "grp")
  }

  private def vectors(): DataFrame = {
    val s = spark; import s.implicits._
    (0 until 2).flatMap { sh => (0 until 12).map { i =>
      val th = ((i + sh * 3) % 7) * 0.8 + (i % 2) * 0.001 + sh * 0.0005
      (sh * 100L + i, s"s$sh", Array(math.cos(th), math.sin(th), 0.1 * (i % 3)))
    }}.toDF("vec_id", "source", "embedding")
  }

  private val cases = Seq(
    Case("incremental_dedup", _ => Map(), texts),
    Case("incremental_near_dedup", _ => Map(), texts),
    Case("incremental_vocab", _ => Map(), texts),
    Case("incremental_sem_dedup",
      d => Map("centroids_path" -> d.resolve("cents").toString, "threshold" -> 0.99), vectors),
    Case("incremental_ivf",
      d => Map("centroids_path" -> d.resolve("cents").toString, "retrain" -> true), vectors),
    Case("incremental_quota",
      _ => Map("group_column" -> "grp", "order_column" -> "doc_id", "quota" -> 5), texts),
    Case("incremental_contamination", _ => Map("shingle_k" -> 3), texts))

  private def registerFailingLoader(): Unit =
    try Registries.loaders.register("always_failing_loader") { (_, _) =>
      new Loader {
        def load(df: DataFrame): Unit = { df.count(); throw new RuntimeException("load failed") }
      }
    } catch { case _: IllegalStateException => () } // registered by an earlier run

  /** Every file under `dir`, relative path → bytes. */
  private def files(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  /** Every store under `dir`, name → (stamp, sorted rows). */
  private def stores(dir: Path): Map[String, (String, Seq[String])] =
    Files.list(dir).iterator().asScala.filter(Files.isDirectory(_)).map { p =>
      val stamp = p.resolve("_GRAFT_STATE_VERSION")
      val parquet = Files.list(p).iterator().asScala.exists(_.toString.endsWith(".parquet"))
      p.getFileName.toString -> (
        (if (Files.exists(stamp)) Files.readString(stamp) else ""),
        if (parquet) rows(spark.read.parquet(p.toString)) else Nil)
    }.toMap

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  cases.foreach { c =>
    test(s"${c.key}: a failed load leaves state_dir byte-identical; the replay equals an uninterrupted run") {
      Registries.bootstrap()
      registerFailingLoader()
      val dir = Files.createTempDirectory(s"graft-stateful-${c.key}")
      val s = spark; import s.implicits._
      Seq((0L, Array(1.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0)),
        (2L, Array(-1.0, 0.0, 0.1)), (3L, Array(0.0, -1.0, 0.2)))
        .toDF("c_id", "cv").write.parquet(dir.resolve("cents").toString)
      val input = c.input()
      val d1 = dir.resolve("d1").toString
      val d2 = dir.resolve("d2").toString
      input.filter($"source" === "s0").write.parquet(d1)
      input.write.parquet(d2) // re-delivers s0, which the manifest covers
      def deliver(in: String, state: Path, loader: String): DataFrame =
        new Engine(spark).run(PipelineConfig(
          name = s"stateful_${c.key}",
          extract = StepConfig("parquet_file", inlineConfig = Map("path" -> in)),
          transform = Seq(StepConfig(c.key,
            inlineConfig = c.conf(dir) + ("state_dir" -> state.toString))),
          load = StepConfig(loader, inlineConfig = Map(
            "path" -> dir.resolve(s"out-${java.util.UUID.randomUUID()}").toString)),
          settings = Settings(retry = RetrySettings(maxAttempts = 1, backoffSeconds = 0))))

      val straight = dir.resolve("straight")
      val replayed = dir.resolve("replayed")
      deliver(d1, straight, "parquet_local")
      deliver(d1, replayed, "parquet_local")
      val afterFirst = files(replayed)
      assert(afterFirst.keys.exists(_.startsWith("manifest/")), afterFirst.keys)
      val e = intercept[RuntimeException](deliver(d2, replayed, "always_failing_loader"))
      assert(e.getMessage == "load failed")
      val afterFailed = files(replayed)
      assert(afterFailed.keySet == afterFirst.keySet)
      afterFirst.foreach { case (f, bytes) => assert(afterFailed(f) == bytes, f) }

      val want = rows(deliver(d2, straight, "parquet_local"))
      val got = rows(deliver(d2, replayed, "parquet_local"))
      assert(got == want)
      assert(stores(replayed) == stores(straight))
      assert(stores(straight).keySet.contains("manifest"))
    }
  }

  test("the table names every registered stateful stage") {
    Registries.bootstrap()
    val dir = Files.createTempDirectory("graft-stateful-keys").toString
    // enough config for every registered constructor; a stage that needs
    // more must be added here, so that it cannot escape the check
    val conf: Map[String, Any] = Map("state_dir" -> dir, "centroids_path" -> dir,
      "query_filter" -> "true", "schema" -> "ohlcv")
    val stateful = Registries.transformers.keys.filter { k =>
      Registries.transformers.resolve(k)(spark, conf).isInstanceOf[StatefulTransformer]
    }
    assert(stateful.toSet == cases.map(_.key).toSet)
  }

  test("the state protocol is called only inside IncrState") {
    val src = Files.readAllLines(
      Paths.get("src/main/scala/graft/transformers/Transformers.scala")).asScala.toSeq
    val start = src.indexWhere(_.contains("object IncrState {"))
    assert(start >= 0)
    val end = src.indexWhere(_ == "  }", start)
    assert(end > start)
    val call = """\b(requireTogether|readOrBucketed|commitAll|snapshot)\s*\(""".r
    val outside = (src.take(start) ++ src.drop(end + 1)).filter { l =>
      val t = l.trim
      !t.startsWith("*") && !t.startsWith("/**") && !t.startsWith("//") &&
        call.findFirstIn(l).nonEmpty
    }
    assert(outside.isEmpty, outside.mkString("\n"))
  }
}
