package graft

import java.io.{FileInputStream, IOException, InputStream}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** [[graft.sources.S3MockFileSystem]] variant (`s3f://`) whose reads fail
  * transiently every [[FlakyMockFileSystem.failEvery]]th read call — the
  * test double for flaky object-store GETs. Every `open` wraps the flaky
  * byte source in [[graft.sources.RetryingInputStream]], so a read that
  * hits an injected failure resumes at the failed offset exactly like the
  * reference's retry-wrapped S3 partitions. Writes fail (permanently)
  * while [[FlakyMockFileSystem.failCreateUnder]] names a fragment of the
  * created file's path — the test double for a failed object PUT. */
class FlakyMockFileSystem extends graft.sources.S3MockFileSystem {
  private def failCreate(f: Path): Unit = {
    val under = FlakyMockFileSystem.failCreateUnder
    if (under != null && f.toUri.getPath.contains(under)) {
      FlakyMockFileSystem.injectedFailures.incrementAndGet()
      throw new IOException(s"injected write failure creating $f")
    }
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    failCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    failCreate(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val file = pathToFile(f)
    new FSDataInputStream(new graft.sources.RetryingInputStream(offset => {
      val s = new FileInputStream(file)
      var toSkip = offset
      while (toSkip > 0) toSkip -= s.skip(toSkip)
      new FlakyMockFileSystem.FlakyStream(s)
    }))
  }
}

object FlakyMockFileSystem {
  /** fail every Nth read call PER STREAM; 0 disables injection. The
    * counter is per-stream on purpose: a global counter shared across
    * local[4]'s concurrent scan tasks could land one stream's retry on
    * the next multiple of N again and (rarely) exhaust the retry budget —
    * a test flake. Per-stream stride-1 counting makes the retry (that
    * stream's next read) deterministically succeed. */
  @volatile var failEvery: Long = 0L
  /** path fragment whose files fail to be created; null disables it */
  @volatile var failCreateUnder: String = null
  val reads = new AtomicLong(0)
  val injectedFailures = new AtomicLong(0)

  private final class FlakyStream(in: InputStream) extends InputStream {
    private var myReads = 0L
    private def maybeFail(): Unit = {
      reads.incrementAndGet()
      myReads += 1
      if (failEvery > 0 && myReads % failEvery == 0) {
        injectedFailures.incrementAndGet()
        throw new IOException(s"injected transient failure at stream read #$myReads")
      }
    }
    override def read(): Int = { maybeFail(); in.read() }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      maybeFail(); in.read(b, off, len)
    }
    override def close(): Unit = in.close()
  }
}
