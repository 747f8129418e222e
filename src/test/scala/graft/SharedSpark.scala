package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.core.{Blocks, Sessions}

/**
 * The specs' one session: built by [[Sessions]] on first use, shared by
 * every spec in the test JVM and never stopped, so no spec can stop a
 * session a later spec still holds. After each spec the fixture stops
 * the streams the spec left active, drops its cached data and releases
 * its pinned blocks, so the next spec starts from a clean session.
 */
trait SharedSpark extends BeforeAndAfterAll { this: Suite =>
  protected final lazy val spark: SparkSession = SharedSpark.session

  override protected def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach { s =>
      s.streams.active.foreach(_.stop())
      s.catalog.clearCache()
      Blocks.releaseAll(s)
    } finally super.afterAll()
}

object SharedSpark {
  private lazy val session: SparkSession = Sessions.local(4, "graft-specs")
}
