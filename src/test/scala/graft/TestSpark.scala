package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("mongoesspark-test")
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Pin a directory's (and its files') mtimes so FileStreamSource —
    * which orders files by modification time — processes fixture
    * batches in the intended order. */
  def touch(dir: String, sec: Long): Unit = {
    val d = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.list(d)
    try (java.util.stream.Stream.concat(java.util.stream.Stream.of(d), s)).forEach { p =>
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(sec * 1000L))
    } finally s.close()
  }
}
