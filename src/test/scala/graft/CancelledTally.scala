package graft

import org.scalatest.Reporter
import org.scalatest.events.{Event, RunAborted, RunCompleted, RunStopped, TestCanceled}

import scala.collection.mutable

/** A ScalaTest reporter (registered in build.sbt) that ends a run with
  * one line: how many tests cancelled, and in which suites. A cancelled
  * test is an `assume` that did not hold, such as a missing checkout or
  * corpus; the run's own summary counts them but does not say where. */
class CancelledTally extends Reporter {
  private val bySuite = mutable.Map.empty[String, Int]

  def apply(event: Event): Unit = synchronized {
    event match {
      case e: TestCanceled => bySuite(e.suiteName) = bySuite.getOrElse(e.suiteName, 0) + 1
      case _: RunCompleted | _: RunStopped | _: RunAborted =>
        val suites = bySuite.toSeq.sortBy { case (s, n) => (-n, s) }
          .map { case (s, n) => s"$s $n" }
        println(s"Cancelled tests: ${bySuite.values.sum}" +
          (if (suites.isEmpty) "" else suites.mkString(" (", ", ", ")")))
      case _ =>
    }
  }
}
