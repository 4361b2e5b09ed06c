package ilogtail.spark.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * The {@code FileContext} side of {@link NioLocalFileSystem}: Hadoop's
 * checksummed {@code LocalFs}, over the same raw filesystem that sets
 * permissions with chmod(2) inside the JVM.
 *
 * <p>{@code FileContext} resolves {@code file://} through
 * {@code fs.AbstractFileSystem.file.impl}, which {@code fs.file.impl}
 * does not reach. Structured Streaming writes its checkpoint and
 * {@code _spark_metadata} logs through it, so without this class each of
 * their directories, log files and {@code .crc} files forks a
 * {@code chmod}. {@link Raw} mirrors Hadoop's {@code RawLocalFs}, whose
 * constructors are package-private.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(uri, conf));
  }

  static final class Raw extends DelegateToFileSystem {
    Raw(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new NioLocalFileSystem.Raw(), conf, "file", false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @SuppressWarnings("deprecation") // as RawLocalFs
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
