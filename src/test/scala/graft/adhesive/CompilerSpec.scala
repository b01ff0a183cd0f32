package graft.adhesive

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the compile seam, mirroring the reference's
  * `CompilerTest.java:22-45` (success + "Can't compile function" failure)
  * and `src/util.rs` mangling behavior.
  */
class CompilerSpec extends AnyFunSuite {

  val validSource =
    """import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |public class Doubler extends Adhesive {
      |  public Object compute(Row row) { return row.getLong(0) * 2; }
      |}""".stripMargin

  test("rewrite prepends a unique generated package and derives the FQN") {
    val (src1, fqn1) = SourceRewriter.rewrite(validSource)
    val (_, fqn2) = SourceRewriter.rewrite(validSource)
    assert(fqn1.startsWith(SourceRewriter.GeneratedPackagePrefix))
    assert(fqn1.endsWith(".Doubler"))
    assert(fqn1 != fqn2, "each registration must get a fresh package")
    assert(src1.startsWith("package "))
  }

  test("compile + instantiate + compute round-trip") {
    val (src, fqn) = SourceRewriter.rewrite(validSource)
    val bytecode = InMemoryJavaCompiler.compile(fqn, src)
    assert(bytecode.contains(fqn))
    val inst = AdhesiveInstances.instance(fqn, bytecode)
    assert(inst.compute(Row(21L)) == 42L)
  }

  test("instance is cached per FQN (reference global-ref parity)") {
    val (src, fqn) = SourceRewriter.rewrite(validSource)
    val bytecode = InMemoryJavaCompiler.compile(fqn, src)
    val a = AdhesiveInstances.instance(fqn, bytecode)
    val b = AdhesiveInstances.instance(fqn, bytecode)
    assert(a eq b)
  }

  test("LANGUAGE SCALA executor parity: serialized UDF instantiates from shipped bytecode in a fresh classloader") {
    // the distribution seam the Java path proves via every aq_* query, now
    // pinned for Scala-compiled functions: an AdhesiveUdf closure carries
    // only (fqn, bytecode); java-serialize it BEFORE any invocation (so
    // the per-JVM instance cache has never seen this fqn — the executor's
    // starting state), deserialize, and invoke. The instance must come
    // from a BytecodeClassLoader defining the shipped bytes, not from the
    // application classpath, which is exactly the multi-executor story.
    val scalaSource =
      """import graft.adhesive.Adhesive
        |import org.apache.spark.sql.Row
        |class Tripler extends Adhesive {
        |  override def compute(row: Row): Object =
        |    java.lang.Long.valueOf(row.getLong(0) * 3)
        |}""".stripMargin
    val (src, fqn) = SourceRewriter.rewrite(scalaSource)
    val bytecode = InMemoryScalaCompiler.compile(fqn, src)
    assert(bytecode.contains(fqn))
    val udf = new AdhesiveUdf("f_ship_scala", fqn, bytecode)

    val buf = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(buf)
    oos.writeObject(udf)
    oos.close()
    val shipped = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(buf.toByteArray))
      .readObject().asInstanceOf[AdhesiveUdf]
    assert(!(shipped eq udf))

    // first-ever instantiation of this fqn happens on the deserialized copy
    assert(shipped.call(Row(14L)) == 42L)
    val inst = AdhesiveInstances.instance(fqn, bytecode)
    assert(inst.getClass.getClassLoader.isInstanceOf[BytecodeClassLoader],
      "executor-side class must be defined from the shipped bytecode, " +
        s"not ${inst.getClass.getClassLoader}")
    // and the original driver-side copy now shares the cached instance
    assert(udf.call(Row(1L)) == 3L)
  }

  test("compile failure raises 'Can't compile function' with diagnostics") {
    val bad = "public class Broken extends NothingThatExists {}"
    val (src, fqn) = SourceRewriter.rewrite(bad)
    val e = intercept[AdhesiveCompileException] {
      InMemoryJavaCompiler.compile(fqn, src)
    }
    assert(e.getMessage.contains("Can't compile function"))
    assert(e.getMessage.contains("NothingThatExists"))
  }

  test("the shared file manager survives a failed compile") {
    // every compile reuses one javac file manager; a compile that fails
    // must leave it usable, and its diagnostics must not leak into the
    // next compile's report
    val (badSrc, badFqn) = SourceRewriter.rewrite(
      "public class Broken2 extends AlsoNothingThatExists {}")
    val e = intercept[AdhesiveCompileException] {
      InMemoryJavaCompiler.compile(badFqn, badSrc)
    }
    assert(e.getMessage.contains("AlsoNothingThatExists"))
    val (src, fqn) = SourceRewriter.rewrite(validSource)
    val bytecode = InMemoryJavaCompiler.compile(fqn, src)
    assert(AdhesiveInstances.instance(fqn, bytecode).compute(Row(5L)) == 10L)
    val (badSrc2, badFqn2) = SourceRewriter.rewrite(
      "public class Broken3 extends YetAnotherMissing {}")
    val e2 = intercept[AdhesiveCompileException] {
      InMemoryJavaCompiler.compile(badFqn2, badSrc2)
    }
    assert(e2.getMessage.contains("YetAnotherMissing"))
    assert(!e2.getMessage.contains("AlsoNothingThatExists"))
  }

  test("source without a class declaration is rejected") {
    val e = intercept[AdhesiveCompileException] {
      SourceRewriter.rewrite("int x = 1;")
    }
    assert(e.getMessage.contains("Can't compile function"))
  }
}
