package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for ScalaTest suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build("graft-test")

  /** Run `body` with the given system properties set, restoring the
    * previous values after. */
  def withProps[T](props: (String, String)*)(body: => T): T = {
    val prev = props.map { case (k, _) => k -> sys.props.get(k) }
    props.foreach { case (k, v) => sys.props(k) = v }
    try body
    finally prev.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props -= k
    }
  }
}
