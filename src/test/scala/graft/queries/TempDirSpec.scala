package graft.queries

import graft.SparkSpec
import java.io.File
import org.apache.spark.graft.ShutdownDelete

/** The extension queries keep their scratch layouts (indexes, WARC and
  * JSONL/ORC copies) in temp dirs that the lazy frames they return still
  * read, so the dirs go at JVM exit rather than when the query returns.
  */
class TempDirSpec extends SparkSpec {

  test("a query temp dir is registered with Spark's shutdown-time deletion") {
    val dir = new File(Extensions.tempDir("spec"))
    assert(dir.isDirectory)
    assert(dir.getName.startsWith("graft_spec_"))
    assert(dir.getParentFile == new File(System.getProperty("java.io.tmpdir")).getAbsoluteFile)
    assert(ShutdownDelete.registered(dir))
  }
}
