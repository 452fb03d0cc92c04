package graft

import graft.fixtures.Fixtures
import graft.ner.{NerConfig, NerModel, Scorer}
import org.scalatest.funsuite.AnyFunSuite

/** Portable weight format (GNERW): the engine's documented equivalent of the
  * reference's `.model`/`.dset` pair (utils/data.py:342-358) — a user exports
  * real trained weights into ONE versioned binary file and injects them
  * without recompiling. Round-trip must be bit-exact (decode parity follows),
  * and a Models built from LOADED weights must drive the full pipeline to the
  * same triples as the in-memory originals. */
class ModelIOSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmpFile(prefix: String): String = {
    val f = java.io.File.createTempFile(prefix, ".gnerw")
    f.deleteOnExit(); f.getAbsolutePath
  }

  test("save/load round-trips every tensor, alphabet, and config field bit-exactly") {
    // a synthesized model exercises every optional block: char LSTM present,
    // multi-layer word LSTM, plus the CNN tensors
    val m = NerModel.synthesize(
      NerConfig("token-single", wordEmbDim = 8, charEmbDim = 4, charHidden = 4,
        hidden = 8, lstmLayers = 2, wordExtractor = "LSTM", charExtractor = "LSTM"),
      words = Seq("אבג", "דהוז", "חט"), labels = Seq("O", "S-PER", "B-ORG"), seed = 11)
    val path = tmpFile("gnerw-rt")
    NerModel.save(m, path)
    val l = NerModel.load(path)
    assert(l.config === m.config)
    assert(l.wordAlphabet === m.wordAlphabet)
    assert(l.charAlphabet === m.charAlphabet)
    assert(l.labelAlphabet === m.labelAlphabet)
    def eq2(a: Array[Array[Float]], b: Array[Array[Float]]): Boolean =
      a.length == b.length && a.indices.forall(i => a(i).sameElements(b(i)))
    def eq3(a: Array[Array[Array[Float]]], b: Array[Array[Array[Float]]]): Boolean =
      a.length == b.length && a.indices.forall(i => eq2(a(i), b(i)))
    assert(eq2(l.wordEmb, m.wordEmb) && eq2(l.charEmb, m.charEmb))
    assert(eq3(l.charCnnW, m.charCnnW) && l.charCnnB.sameElements(m.charCnnB))
    assert(l.charLstm.isDefined === m.charLstm.isDefined)
    for ((lc, mc) <- l.charLstm.get.zip(m.charLstm.get)) {
      assert(eq2(lc.wi, mc.wi) && eq2(lc.wh, mc.wh) && lc.b.sameElements(mc.b))
    }
    assert(l.lstm.length === m.lstm.length)
    for (layer <- l.lstm.indices; d <- 0 to 1) {
      assert(eq2(l.lstm(layer)(d).wi, m.lstm(layer)(d).wi))
      assert(eq2(l.lstm(layer)(d).wh, m.lstm(layer)(d).wh))
      assert(l.lstm(layer)(d).b.sameElements(m.lstm(layer)(d).b))
    }
    assert(eq3(l.cnnW, m.cnnW) && l.cnnB.sameElements(m.cnnB))
    assert(eq2(l.hidden2tag, m.hidden2tag) && l.hidden2tagB.sameElements(m.hidden2tagB))
    assert(eq2(l.transitions, m.transitions))
    // decode parity on real tokens (exercises alphabets + weights together)
    val toks = IndexedSeq(IndexedSeq("אבג", "חט", "דהוז"))
    assert(Scorer.decodeBatch(l, toks) === Scorer.decodeBatch(m, toks))
  }

  test("corrupt or wrong-version files fail loudly") {
    val m = NerModel.synthesizeOracle("token-single",
      Map("אבג" -> "S-PER"), Seq("S-PER"))
    val path = tmpFile("gnerw-bad")
    NerModel.save(m, path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // truncated gzip stream → IO error, not a silently-partial model
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      java.util.Arrays.copyOf(bytes, bytes.length / 2))
    intercept[java.io.IOException] { NerModel.load(path) }
    // not a GNERW payload at all
    val junk = tmpFile("gnerw-junk")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(junk))
    out.write("not a model".getBytes("UTF-8")); out.close()
    intercept[Exception] { NerModel.load(junk) }
  }

  test("runAll with loaded weights lands on the same triples as the in-memory models") {
    import spark.implicits._
    val orig = Pipeline.fixtureModels()
    val paths = Seq(orig.single, orig.multi, orig.morph).map { m =>
      val p = tmpFile("gnerw-e2e"); NerModel.save(m, p); p
    }
    val loaded = Pipeline.Models(
      single = NerModel.load(paths(0)),
      multi = NerModel.load(paths(1)),
      morph = NerModel.load(paths(2)),
      lexicon = orig.lexicon)
    // the content fingerprint (resume guard) must agree — loaded weights are
    // the same weights, so a resume against an orig-built workDir must NOT
    // trigger a rebuild
    assert(loaded.fingerprint === orig.fingerprint)
    val docs = spark.createDataset(Fixtures.inputDocs(12))
    def run(models: Pipeline.Models, dir: String) = {
      val work = java.nio.file.Files.createTempDirectory(dir).toString
      val t = Pipeline.runAll(spark, docs,
        spark.createDataset(Fixtures.entityDictionary()).toDF(),
        work, buckets = Some(2), models = models).collect().toSet
      def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
      rm(new java.io.File(work))
      t
    }
    val a = run(orig, "graft-mio-a")
    val b = run(loaded, "graft-mio-b")
    assert(a === b && a.nonEmpty)
  }
}
