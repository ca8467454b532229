package graft

import graft.sources.HdfsConf
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The program's configuration surface is one explicit list: every
  * environment variable, system property and `graft.*` session option
  * that `src/main/scala` reads. A new knob fails this spec until it is
  * added here and documented in README's Configuration section. */
class ConfigSurfaceSpec extends AnyFunSuite {

  private val envVars = Set(
    "SPARK_GRAFT_BENCH_BUDGET_SEC", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_QUERY_TIMEOUT_SEC", "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_SWEEP_THREADS", "GRAFT_SCRATCH_DIR")

  /** Read through `HdfsConf.configureFromEnv`, which takes the whole
    * environment map and looks these keys up by their named constants. */
  private val hdfsEnvVars = Set(
    HdfsConf.DefaultNamenode, HdfsConf.HaNamenodes,
    HdfsConf.Shortcircuit, HdfsConf.DomainSocketPath)
  private val wholeEnvReaders = Set("graft/sources/HdfsConf.scala")

  private val systemProps = Set(
    "graft.media.decoder", "graft.jaccard.checkSorted", "java.io.tmpdir")

  private val sessionOptions = Set(
    "graft.d112.smallCap", "graft.d23.sigBroadcastCap",
    "graft.lsh.occupancy", "graft.lsh.oracleGated", "graft.lsh.pairBudget",
    "graft.lsh.saltCap", "graft.lsh.vecBroadcastCap", "graft.shard.target")

  private val root = Paths.get("src/main/scala")
  private val mainSources: Map[String, String] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.map(f => root.relativize(f).toString -> Files.readString(f)).toMap
  }

  private def keys(patterns: String*): Set[String] =
    (for {
      src <- mainSources.values
      p <- patterns
      m <- p.r.findAllMatchIn(src)
    } yield m.group(1)).toSet

  private val envRead = """sys\.env(?:\.get|\.getOrElse|\.contains)?\(\s*"([^"]+)""""
  private val getenv = """System\.getenv\(\s*"([^"]+)""""
  private val propRead = """sys\.props(?:\.get|\.getOrElse|\.contains)?\(\s*"([^"]+)""""
  private val getProperty =
    """(?:System\.getProperty|Boolean\.getBoolean|Integer\.getInteger|Long\.getLong)\(\s*"([^"]+)""""
  private val graftConf = """conf\.get(?:Option)?\(\s*"(graft\.[^"]+)""""

  test("the environment variables read are exactly the listed ones") {
    assert(keys(envRead, getenv) == envVars)
    // every other environment read goes through a listed whole-map reader
    def count(p: String, src: String) = p.r.findAllMatchIn(src).size
    val bare = mainSources.collect {
      case (f, src) if count("""sys\.env\b|System\.getenv\b""", src) >
          count(envRead, src) + count(getenv, src) => f
    }.toSet
    assert(bare == wholeEnvReaders)
    val hdfs = mainSources("graft/sources/HdfsConf.scala")
    assert(""""(GRAFT_[A-Z_]+)"""".r.findAllMatchIn(hdfs).map(_.group(1)).toSet == hdfsEnvVars)
  }

  test("the system properties read are exactly the listed ones") {
    assert(keys(propRead, getProperty) == systemProps)
  }

  test("the graft.* session options read are exactly the listed ones") {
    assert(keys(graftConf) == sessionOptions)
    // a computed key would escape the list
    assert(!mainSources.values.exists(src => """conf\.get(?:Option)?\(\s*s"graft""".r.findFirstIn(src).isDefined))
  }

  test("README's Configuration section documents every listed knob") {
    val readme = Files.readString(Path.of("README.md"))
    val start = readme.indexOf("\n## Configuration")
    assert(start >= 0, "README has no Configuration section")
    val end = readme.indexOf("\n## ", start + 1)
    val section = readme.substring(start, if (end < 0) readme.length else end)
    val undocumented = (envVars ++ hdfsEnvVars ++ systemProps ++ sessionOptions)
      .filterNot(k => section.contains(s"`$k`"))
    assert(undocumented.isEmpty, s"undocumented: ${undocumented.toSeq.sorted}")
  }
}
