package graft

import graft.tools.Scale
import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.tools.Scale` scenario runs end to end at its smallest
  * factor, planted-structure asserts included, so the scale evidence the
  * docs quote stays runnable. The figures that carry a claim come from
  * `runMain graft.tools.Scale <scenario>` at factor 1.
  */
class ScaleSpec extends AnyFunSuite {
  Scale.scenarios.toSeq.sortBy(_._1).foreach { case (name, scenario) =>
    test(s"Scale $name runs at factor ${Scale.Smallest}") {
      scenario(SparkTestSession.spark, Scale.Smallest)
    }
  }
}
