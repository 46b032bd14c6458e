package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import graft.operators.Replace
import graft.runner.ZoneSink

/** The in-place replacements outside a table log: a small file is
  * replaced whole or not at all, and a directory swap survives the
  * leftover of a crashed earlier swap.
  */
class ReplaceSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  test("a marker write that throws partway leaves the previous marker readable and no temp") {
    val dir = Files.createTempDirectory("replace_file_")
    val p = new Path(dir.toString, "_progress")
    Replace.file(conf, p)(_.write("41".getBytes))
    val e = intercept[java.io.IOException] {
      Replace.file(conf, p) { out =>
        out.write("4".getBytes) // a digit prefix of the next value
        throw new java.io.IOException("disk gone")
      }
    }
    assert(e.getMessage === "disk gone")
    assert(new String(Files.readAllBytes(Paths.get(dir.toString, "_progress"))) === "41")
    val left = dir.toFile.listFiles().map(_.getName).toSet
    assert(left === Set("_progress", "._progress.crc"), s"temp left behind: $left")
    Replace.file(conf, p)(_.write("42".getBytes))
    assert(new String(Files.readAllBytes(Paths.get(dir.toString, "_progress"))) === "42")
  }

  test("a caller-named temp: a write that throws leaves no temp and the old content intact") {
    val dir = Files.createTempDirectory("replace_named_")
    val p = new Path(dir.toString, "_last_checkpoint")
    Replace.file(conf, p)(_.write("7".getBytes), new Path(dir.toString, ".tmp-ptr-1"))
    val tmp = Paths.get(dir.toString, ".tmp-ptr-2")
    val e = intercept[java.io.IOException] {
      Replace.file(conf, p)({ out =>
        assert(Files.exists(tmp), "the bytes go to the caller's temp")
        out.write("1".getBytes)
        throw new java.io.IOException("disk gone")
      }, new Path(tmp.toString))
    }
    assert(e.getMessage === "disk gone")
    assert(new String(Files.readAllBytes(Paths.get(dir.toString, "_last_checkpoint"))) === "7")
    val left = dir.toFile.listFiles().map(_.getName).toSet
    assert(left === Set("_last_checkpoint", "._last_checkpoint.crc"), s"temp left behind: $left")
  }

  test("compact succeeds over a stale swap leftover, data intact, no leftover remaining") {
    val root = Files.createTempDirectory("replace_dir_").toString
    val path = s"$root/t"
    (0 until 200).map(i => (i, s"r$i")).toDF("k", "s").repartition(5).write.parquet(path)
    // a crash after moving the original aside leaves this behind
    (0 until 50).map(i => (-i, "stale")).toDF("k", "s").write.parquet(path + "__precompact")
    def rows() = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    val before = rows()
    assert(ZoneSink().compact(spark, path) === 1)
    assert(rows() === before)
    assert(!Files.exists(Paths.get(path + "__precompact")) &&
      !Files.exists(Paths.get(path + "__compacting")))
  }
}
