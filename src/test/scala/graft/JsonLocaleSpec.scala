package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.observability.JobWatch

/** The JSON lines the harnesses print stay JSON whatever the JVM's
  * default locale: a comma-decimal locale must not turn `0.500` into
  * `0,500`. */
class JsonLocaleSpec extends AnyFunSuite {

  test("cost and concurrency JSON parse under a comma-decimal locale") {
    val prior = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val json = new ObjectMapper()
      val cost = json.readTree(JobWatch.Cost(0.5, 0.25, 1.125, 0.0, 2.0,
        1, 2, 3, 4L, 0.5, 0.5, 0.0, 0.0).json)
      assert(cost.get("build_s").asDouble == 0.5, cost)
      assert(cost.get("exec_s").asDouble == 1.125, cost)
      val conc = json.readTree(ServeMain.concJson(Seq(
        ServeMain.ConcPoint(4, 100, 485L, 206.36, 12L, 40L,
          Map("search" -> (10L, 30L))))))
      assert(conc.get(0).get("qps").asDouble == 206.4, conc)
    } finally Locale.setDefault(prior)
  }
}
