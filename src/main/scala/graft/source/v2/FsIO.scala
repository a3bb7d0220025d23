package graft.source.v2

import java.io.{ObjectInputStream, ObjectOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** A Hadoop `Configuration` made Java-serializable, so executor-side
  * partition readers and data writers resolve files through the SAME
  * `FileSystem` layer (schemes, credentials, tuning) the driver planned
  * against. `Configuration` itself is not `Serializable`; this wrapper
  * ships its key/value payload via Hadoop's own `Writable` codec — the
  * standard fix used throughout Spark's sources (Spark's equivalent
  * class is `private[spark]`, hence this small public twin).
  *
  * Construct ON THE DRIVER (inside `createReaderFactory` /
  * `createBatchWriterFactory`) and let Spark serialize it with the
  * factory's closure.
  */
class SerializableHadoopConf(@transient private var conf: Configuration)
    extends Serializable {
  def value: Configuration = conf

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

/** Connector-side filesystem resolution: every path the DSv2 connectors
  * touch — source dumps, bulk-body output, per-file metadata probes —
  * resolves through `Path.getFileSystem`, so `file:`, `hdfs:` and any
  * session-registered scheme all work, on driver and executors alike.
  * (The state stores' metadata plane goes through
  * [[graft.cdc.StateIO]]'s `CheckpointFileManager` for atomic swaps;
  * connectors only need plain open/create/list/rename, so the raw
  * `FileSystem` API is the right altitude here.) */
object FsIO {
  /** The active session's Hadoop conf on the driver (per-session schemes
    * and credentials apply); vanilla defaults otherwise. */
  def driverConf: Configuration = graft.cdc.StateIO.hadoopConf

  /** Checksum-free face of the path's filesystem. Bulk-body directories
    * are globbed by an external loader, so the `.crc` side-files Hadoop's
    * `ChecksumFileSystem` (e.g. `file:`) writes next to every file are
    * noise there — unwrap to the raw FS. Cluster filesystems (`hdfs:`,
    * object stores) are not ChecksumFileSystems and pass through. */
  def rawFs(path: Path, conf: Configuration): FileSystem =
    path.getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other                                      => other
    }
}
