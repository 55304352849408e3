package graft.store

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.Path
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Props and the version token are rewritten by rename-over: a reader
  * racing the rewrites sees the old value or the new one — never an
  * empty file, a torn value, or a checksum that belongs to other bytes.
  */
class PropRewriteSpec extends AnyFunSuite with SharedSpark {

  test("a reader racing 500 rewrites of a prop and the token only sees whole values") {
    import spark.implicits._
    val root = tmpDir("prop-rewrite")
    val tables = new TableStore(spark, s"$root/tables")
    tables.append("t", Seq((1L, "x")).toDF("id", "v"))
    tables.setTableProp("t", "buckets", "0")
    val dir = new Path(s"$root/tables/t")
    val conf = spark.sparkContext.hadoopConfiguration

    val checksumLogs = new ConcurrentLinkedQueue[String]()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("prop-rewrite-checksums", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val text = e.getMessage.getFormattedMessage +
          Option(e.getThrown).fold("")(t => " " + t.toString)
        if (text.toLowerCase.contains("checksum")) checksumLogs.add(text)
      }
    }
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()

    val token = "[0-9a-f-]{36} [0-9a-f-]{36}".r
    val bad = new ConcurrentLinkedQueue[String]()
    val writer = new Thread(() =>
      (1 to 500).foreach(i => tables.setTableProp("t", "buckets", i.toString)))
    try {
      writer.start()
      (1 to 2000).foreach { _ =>
        TableStore.readToken(dir, conf) match {
          case Some(token()) => ()
          case other => bad.add(s"token $other")
        }
        try tables.getTableProp("t", "buckets") match {
          case Some(v) if v.nonEmpty && v.forall(_.isDigit) && v.toInt <= 500 => ()
          case other => bad.add(s"prop $other")
        } catch { case e: java.io.IOException => bad.add(s"prop read failed: $e") }
      }
      writer.join()
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
    }
    assert(bad.size == 0, s"bad reads, e.g. ${bad.peek()}")
    assert(checksumLogs.size == 0, s"checksum errors logged, e.g. ${checksumLogs.peek()}")
    assert(tables.getTableProp("t", "buckets").contains("500"))
    // the rewrites leave no temp siblings behind
    assert(new java.io.File(dir.toUri.getPath).list().forall(n => !n.endsWith(".tmp")))
  }
}
