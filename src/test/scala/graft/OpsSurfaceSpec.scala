package graft

import java.lang.reflect.Modifier
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The graft.ops operators take frames: no public method of an ops object
  * takes a SparkSession, so none can read a corpus layout (the SQL
  * functions register through graft.functions.ExtractSpansExpr). */
class OpsSurfaceSpec extends AnyFunSuite {

  /** Every top-level object of graft.ops on the test classpath. */
  private def opsObjects: Seq[Class[_]] = {
    val loader = getClass.getClassLoader
    val url = loader.getResource("graft/ops/TextOps$.class")
    val files = url.getProtocol match {
      case "jar" =>
        url.openConnection().asInstanceOf[java.net.JarURLConnection].getJarFile
          .entries().asScala.map(_.getName).filter(_.startsWith("graft/ops/"))
          .map(_.stripPrefix("graft/ops/")).toSeq
      case _ => new java.io.File(url.toURI).getParentFile.list().toSeq
    }
    files.filter(f => f.endsWith("$.class") && f.count(_ == '$') == 1).sorted
      .map(f => Class.forName("graft.ops." + f.stripSuffix(".class"), false, loader))
  }

  test("no public graft.ops method takes a SparkSession") {
    val objects = opsObjects
    assert(objects.map(_.getSimpleName).contains("TextOps$"), objects)
    val takers = for {
      c <- objects
      m <- c.getDeclaredMethods.toSeq
      if Modifier.isPublic(m.getModifiers) && !m.getName.contains("$")
      if m.getParameterTypes.exists(classOf[SparkSession].isAssignableFrom)
    } yield s"${c.getSimpleName.stripSuffix("$")}.${m.getName}"
    assert(takers.isEmpty, takers)
  }
}
