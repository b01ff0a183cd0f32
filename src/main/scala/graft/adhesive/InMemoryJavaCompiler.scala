package graft.adhesive

import java.io.ByteArrayOutputStream
import java.net.URI
import javax.tools.JavaFileObject.Kind
import javax.tools.{
  DiagnosticCollector, FileObject, ForwardingJavaFileManager, JavaCompiler,
  JavaFileManager, JavaFileObject, SimpleJavaFileObject, StandardJavaFileManager,
  StandardLocation, ToolProvider
}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory `javac` compilation of a single source string to bytecode,
  * DDL-time, driver-side. Functional counterpart of the reference's
  * `Compiler` (`/root/reference/java/src/main/java/.../Compiler.java:34-59`:
  * system compiler + in-memory file manager + map-backed classloader), but
  * returns the bytecode map instead of loading classes immediately — the
  * bytes must travel to executors inside the UDF closure (the distribution
  * problem the reference never faced, SURVEY §7.4 H1).
  */
object InMemoryJavaCompiler {

  private val lock = new Object
  private var shared: StandardJavaFileManager = _

  /** One standard file manager per JVM, guarded by `lock`. Opening it
    * indexes every classpath jar (about 290 with the Spark jars), which
    * costs several times a small compile, so it is opened once and never
    * closed. The forked JVM's java.class.path carries the Spark jars and
    * this library's classes, so user source can extend
    * graft.adhesive.Adhesive and import org.apache.spark.sql.Row.
    */
  private def fileManager(compiler: JavaCompiler): StandardJavaFileManager = {
    if (shared == null) {
      val fm = compiler.getStandardFileManager(null, null, null)
      val classPath = System.getProperty("java.class.path")
        .split(java.io.File.pathSeparator).filter(_.nonEmpty)
        .map(new java.io.File(_)).toList
      fm.setLocation(StandardLocation.CLASS_PATH, classPath.asJava)
      shared = fm
    }
    shared
  }

  /** Compile `source` (which must declare class `fqn`). Returns a map of
    * binary class name → bytecode for every emitted class (the declared
    * class plus any nested/anonymous classes).
    *
    * @throws AdhesiveCompileException on any diagnostic error, message
    *         prefixed "Can't compile function" for parity with the
    *         reference (`Compiler.java:46-51`, asserted by
    *         `CompilerTest.java:33-45`).
    */
  def compile(fqn: String, source: String): Map[String, Array[Byte]] = {
    val compiler = ToolProvider.getSystemJavaCompiler
    if (compiler == null) {
      throw new AdhesiveCompileException(
        "Can't compile function: no system Java compiler (JRE instead of JDK?)")
    }
    val diagnostics = new DiagnosticCollector[JavaFileObject]
    val out = mutable.Map.empty[String, ByteArrayOutputStream]
    val src = new SimpleJavaFileObject(
        URI.create(s"string:///${fqn.replace('.', '/')}.java"), Kind.SOURCE) {
      override def getCharContent(ignoreEncodingErrors: Boolean): CharSequence =
        source
    }
    // The standard manager is not thread-safe, so compiles take turns.
    val ok = lock.synchronized {
      val fm = new ForwardingJavaFileManager[JavaFileManager](fileManager(compiler)) {
        override def getJavaFileForOutput(
            location: JavaFileManager.Location, className: String,
            kind: Kind, sibling: FileObject): JavaFileObject = {
          val buf = new ByteArrayOutputStream()
          out(className) = buf
          new SimpleJavaFileObject(
              URI.create(s"mem:///${className.replace('.', '/')}.class"), kind) {
            override def openOutputStream() = buf
          }
        }
        // the shared manager outlives this compile
        override def close(): Unit = ()
      }
      compiler.getTask(null, fm, diagnostics, null, null, List(src).asJava).call()
    }

    if (!ok) {
      val msgs = diagnostics.getDiagnostics.asScala.map(_.toString).mkString("\n")
      throw new AdhesiveCompileException(s"Can't compile function:\n$msgs")
    }
    val classes = out.view.mapValues(_.toByteArray).toMap
    if (!classes.contains(fqn)) {
      throw new AdhesiveCompileException(
        s"Can't compile function: compilation produced no class named $fqn " +
          s"(got: ${classes.keys.mkString(", ")})")
    }
    classes
  }
}
