package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.{array, col, sin}
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.withTempDir

class ArtifactMemoSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  /** An `n`-row 64-dim embeddings table under `dir`, as x97 reads it. */
  private def writeEmbeddings(dir: Path, n: Int): Unit =
    spark.range(n).select(col("id").as("vec_id"),
        array((1 to 64).map(j => sin(col("id") * j).cast("float")): _*)
          .as("embedding"))
      .coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("embeddings.parquet").toString)

  private def rows(query: String, dir: Path): Set[Seq[Any]] =
    SparkEntry.queries(query)(spark, dir.toString)
      .collect().map(_.toSeq).toSet

  test("a memoized artifact rebuilds when its input table changes") {
    withTempDir("graft-memo-data") { data =>
      writeEmbeddings(data, 40)
      val before = rows("x97_pca_variance", data)
      writeEmbeddings(data, 20) // the input table changes in place
      val after = rows("x97_pca_variance", data)
      withTempDir("graft-memo-fresh") { fresh =>
        writeEmbeddings(fresh, 20)
        val expected = rows("x97_pca_variance", fresh)
        assert(expected != before, "the changed table must change the result")
        assert(after == expected,
          "a stale artifact served after the input changed")
      }
    }
  }

  test("a replaced stored-artifact directory is deleted") {
    withTempDir("graft-memo-input") { input =>
      Files.writeString(input.resolve("t.txt"), "a")
      var builds = 0
      def stored(): Path =
        Paths.get(ArtifactMemo.dir("memo_spec", Seq(input.toString)) { d =>
          builds += 1
          Files.writeString(Paths.get(d, "model.txt"), s"build $builds")
        })
      val first = stored()
      assert(stored() == first && builds == 1, "an unchanged input rebuilt")
      assert(Files.readString(first.resolve("model.txt")) == "build 1")
      Files.writeString(input.resolve("t.txt"), "bb")
      val second = stored()
      assert(second != first && builds == 2)
      assert(!Files.exists(first), s"replaced dir $first still on disk")
      assert(Files.readString(second.resolve("model.txt")) == "build 2")
    }
  }

  test("a failed build leaves no entry and no directory behind") {
    withTempDir("graft-memo-fail") { input =>
      var dir: String = null
      intercept[IllegalStateException] {
        ArtifactMemo.dir("memo_spec_fail", Seq(input.toString)) { d =>
          dir = d
          throw new IllegalStateException("build failed")
        }
      }
      assert(dir != null && !Files.exists(Paths.get(dir)))
    }
  }
}
