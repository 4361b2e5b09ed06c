package ilogtail.spark.fs;

import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem ({@code file://}), setting
 * permissions with chmod(2) inside the JVM.
 *
 * <p>Without libhadoop, {@code RawLocalFileSystem.setPermission} forks a
 * {@code chmod} process, and it runs once for every file and directory a
 * write creates. Here it is {@code Files.setAttribute(.., "unix:mode", ..)}:
 * the full mode, sticky and set-id bits included. A missing path raises
 * {@code NoSuchFileException}, an {@code IOException}, as the forked
 * {@code chmod} did. Extending {@code LocalFileSystem} keeps the
 * {@code .crc} files written and checked on read.
 *
 * <p>Without this class the {@code file} scheme resolves, through Hadoop's
 * service loader, to Hive's {@code ProxyLocalFileSystem}, a
 * {@code LocalFileSystem} whose {@code rename} refuses to replace an
 * existing file, as HDFS does. {@code rename} keeps that rule.
 *
 * <p>Build the jar beside this file with {@code build.sh}.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation") // isFile, as ProxyLocalFileSystem calls it
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  static final class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      Files.setAttribute(pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
    }
  }
}
