package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {

  test("jsonString keeps quotes, backslashes and control chars parseable") {
    val mapper = new ObjectMapper()
    for (s <- Seq("/data/sf0.1", "C:\\bench\\out.json", "/tmp/x\"y",
      "tab\there\r\nline\u0001end", "")) {
      // a field of a result line, as Bench prints it
      val tree = mapper.readTree(s"""{"sf":${Verify.jsonString(s)},"cpus":4}""")
      assert(tree.get("sf").asText() == s)
    }
  }
}
