package graft.bench

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, DriverPropertyInfo, PreparedStatement}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** A JDBC driver for `jdbc:graftbench:` URLs that lets `JdbcSink` run its
  * whole executor-side path (repartition, connect, bind, batch, commit)
  * while it records, instead of storing rows:
  *
  *  - counts of connections, rows bound (`addBatch`), flushes
  *    (`executeBatch`) and commits;
  *  - a last-wins table kept only as natural key -> `seq`, applied at
  *    commit in statement order, as an upsert would leave it.
  *
  * Memory is bounded by the number of distinct keys plus one uncommitted
  * partition. No database work happens, so write timings taken against it
  * exclude database time. Executors of a local-mode session share the
  * JVM, so the state lives in this object. */
object RecordingDb {
  final val UrlPrefix = "jdbc:graftbench:"
  val table = new ConcurrentHashMap[String, java.lang.Long]()
  val connections, binds, flushes, commits = new AtomicLong()

  /** Which bound parameters (1-based) form the natural key, which one
    * holds the hstore `values` text, and the hstore key of the sequence. */
  @volatile private var keyParams: Array[Int] = Array.empty
  @volatile private var valuesParam: Int = -1
  @volatile private var seqPattern: java.util.regex.Pattern = _

  def configure(columns: Seq[String], keys: Seq[String], seqKey: String): Unit = {
    keyParams = keys.map(k => columns.indexOf(k) + 1).toArray
    valuesParam = columns.indexOf("values") + 1
    seqPattern = java.util.regex.Pattern.compile(
      "\"" + java.util.regex.Pattern.quote(seqKey) + "\"=>\"(\\d+)\"")
    reset()
  }

  def reset(): Unit = {
    table.clear()
    Seq(connections, binds, flushes, commits).foreach(_.set(0))
  }

  def counters: Map[String, Long] = Map("connections" -> connections.get,
    "binds" -> binds.get, "flushes" -> flushes.get, "commits" -> commits.get)

  lazy val register: Unit = java.sql.DriverManager.registerDriver(new RecordingDriver)

  private[bench] def keyOf(params: Array[AnyRef]): String =
    KeyText.render(keyParams.toSeq.map(params(_)))

  private[bench] def seqOf(params: Array[AnyRef]): Long = {
    val m = seqPattern.matcher(String.valueOf(params(valuesParam)))
    if (!m.find()) throw new java.sql.SQLException("bound row has no seq in values")
    m.group(1).toLong
  }
}

class RecordingDriver extends java.sql.Driver {
  def acceptsURL(url: String): Boolean = url != null && url.startsWith(RecordingDb.UrlPrefix)
  def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      RecordingDb.connections.incrementAndGet()
      RecordingDriver.proxy[Connection](new RecordingDriver.Conn)
    }
  def getPropertyInfo(url: String, info: java.util.Properties): Array[DriverPropertyInfo] =
    Array.empty
  def getMajorVersion: Int = 1
  def getMinorVersion: Int = 0
  def jdbcCompliant: Boolean = false
  def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}

object RecordingDriver {
  private def proxy[T](h: InvocationHandler)(implicit ct: scala.reflect.ClassTag[T]): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(ct.runtimeClass), h).asInstanceOf[T]

  private def unsupported(m: Method) =
    new java.sql.SQLFeatureNotSupportedException(s"recording driver: ${m.getName}")

  /** Rows flushed but not yet committed, in statement order. */
  private final class Conn extends InvocationHandler {
    val flushed = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var closed = false
    def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "setAutoCommit" | "setTransactionIsolation" => null
      case "getAutoCommit" => java.lang.Boolean.FALSE
      case "prepareStatement" => proxy[PreparedStatement](new Stmt(this))
      case "commit" =>
        flushed.foreach { case (k, s) => RecordingDb.table.put(k, s) }
        flushed.clear()
        RecordingDb.commits.incrementAndGet()
        null
      case "rollback" => flushed.clear(); null
      case "close" => flushed.clear(); closed = true; null
      case "isClosed" => java.lang.Boolean.valueOf(closed)
      case "isValid" => java.lang.Boolean.valueOf(!closed)
      case "toString" => "RecordingConnection"
      case "hashCode" => Integer.valueOf(System.identityHashCode(this))
      case "equals" => java.lang.Boolean.valueOf(p.asInstanceOf[AnyRef] eq args(0))
      case _ => throw unsupported(m)
    }
  }

  private final class Stmt(conn: Conn) extends InvocationHandler {
    private var params = new Array[AnyRef](16)
    private val batch = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    private def set(i: Int, v: AnyRef): Unit = {
      if (i >= params.length) params = java.util.Arrays.copyOf(params, i * 2)
      params(i) = v
    }
    def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "setNull" => set(args(0).asInstanceOf[Integer].intValue, null); null
      case n if n.startsWith("set") && args != null && args.length >= 2 &&
          args(0).isInstanceOf[Integer] =>
        set(args(0).asInstanceOf[Integer].intValue, args(1)); null
      case "clearParameters" => java.util.Arrays.fill(params, null); null
      case "addBatch" =>
        batch += (RecordingDb.keyOf(params) -> RecordingDb.seqOf(params))
        RecordingDb.binds.incrementAndGet()
        null
      case "executeBatch" =>
        val n = batch.size
        conn.flushed ++= batch
        batch.clear()
        RecordingDb.flushes.incrementAndGet()
        Array.fill(n)(1)
      case "clearBatch" => batch.clear(); null
      case "close" => null
      case "toString" => "RecordingStatement"
      case "hashCode" => Integer.valueOf(System.identityHashCode(this))
      case "equals" => java.lang.Boolean.valueOf(p.asInstanceOf[AnyRef] eq args(0))
      case _ => throw unsupported(m)
    }
  }
}
