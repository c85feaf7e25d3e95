package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Every workload runs end to end at a tiny size, untraced and traced, and
  * passes its own output checks without leaving files behind. */
class SmokeSpec extends AnyFunSuite {
  for (w <- Seq("lms_nightly", "corpus_curation")) {
    test(s"$w runs at a tiny size") {
      for (trace <- Seq(false, true)) {
        val dir = Files.createTempDirectory(s"perfbench-$w")
        val result = dir.resolve("result.json")
        val code = Main.run(w, seed = 11L, seconds = 1.0, trace = trace, scale = 0.02,
          dir.resolve("run"), result, Map.empty)
        val json = Files.readString(result)
        assert(code == 0, json)
        assert(json.contains("\"correct\":true"), json)
        val names = if (trace) Layers.all else Seq("batch_s", "setup_s", "result_recall")
        names.foreach(n => assert(json.contains(s""""$n":"""), n))
        Fs.deleteTree(dir)
      }
    }
  }
}
