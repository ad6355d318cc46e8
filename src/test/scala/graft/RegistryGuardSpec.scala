package graft

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Structural guard against ORPHANED MODULES — the failure class that
  * shipped twice (round 6: JsonOps, round 7: SkewAdvisor): a finished
  * module exposing `all`/`oracle` maps that nobody wired into
  * [[SparkEntry]], so its queries exist with ZERO gate coverage.
  *
  * The compiled classes directory is walked for every `graft.*` object with
  * a public no-argument `all` method; each must extend [[QueryModule]] AND
  * appear in [[SparkEntry.modules]]. Dropping any one module from that list
  * fails this spec with the module's name.
  */
class RegistryGuardSpec extends AnyFunSuite {

  /** Objects with an `all` that is not a query registry. */
  private val notModules = Set("graft.analytics.OracleSql$") // = Queries.oracle

  /** Every compiled `graft/**/*$.class` object with a public no-argument
    * `all`, loaded WITHOUT initialization.
    */
  private lazy val scanned: Seq[Class[_]] = {
    val root = new File(
      SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith("$.class")) Seq(f) else Nil
    walk(new File(root, "graft"))
      .map(f => root.toPath.relativize(f.toPath).toString
        .stripSuffix(".class").replace(File.separatorChar, '.'))
      .filterNot(notModules)
      .map(Class.forName(_, false, getClass.getClassLoader))
      .filter(_.getMethods.exists(m =>
        m.getName == "all" && m.getParameterCount == 0))
      .sortBy(_.getName)
  }

  test("the scan itself sees the known registry modules (not vacuous)") {
    val names = scanned.map(_.getName).toSet
    for (expected <- Seq("graft.warehouse.SkewAdvisor$", "graft.ingest.JsonOps$",
        "graft.analytics.Queries$", "graft.observability.ColumnLineage$"))
      assert(names.contains(expected), s"classpath scan lost $expected")
    val (found, listed) = (scanned.size, SparkEntry.modules.size)
    assert(listed >= 90, s"only $listed modules registered")
    assert(found == listed,
      s"scan found $found modules, SparkEntry.modules lists $listed")
  }

  test("every compiled module extends QueryModule and is in SparkEntry.modules") {
    val registered: Set[Class[_]] = SparkEntry.modules.map(_.getClass).toSet
    val orphans = scanned.collect {
      case c if !classOf[QueryModule].isAssignableFrom(c) =>
        s"${c.getName}: does not extend QueryModule"
      case c if !registered(c) => s"${c.getName}: missing from SparkEntry.modules"
    }
    assert(orphans.isEmpty,
      s"ORPHANED MODULES — never wired into SparkEntry:\n  " +
        orphans.mkString("\n  "))
  }

  test("a name declared by two modules fails the merge, naming both") {
    // the r9 near-miss: a new module declared "text_chunk_windows", which
    // TextAnalysis already owned — SparkEntry's old `++` chain silently
    // replaced the original query AND its oracle. A name has one owner.
    val e = intercept[IllegalArgumentException](
      SparkEntry.union(Seq(StubFirst, StubSecond))(_.all))
    assert(e.getMessage.contains("shared_name <- StubFirst, StubSecond"),
      e.getMessage)
    assert(!e.getMessage.contains("only_first"), e.getMessage)
  }
}

private object Stub {
  val query: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
}

private object StubFirst extends QueryModule {
  val all = Map("shared_name" -> Stub.query, "only_first" -> Stub.query)
  val oracle = Map.empty[String, String]
}

private object StubSecond extends QueryModule {
  val all = Map("shared_name" -> Stub.query)
  val oracle = Map.empty[String, String]
}
