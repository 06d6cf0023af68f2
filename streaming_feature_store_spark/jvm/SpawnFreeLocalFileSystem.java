/*
 * The `file:` filesystem that `session.get_spark` installs: Hadoop's own
 * local filesystem, except that permission bits are set in-process.
 *
 * Without libhadoop (pip-installed PySpark ships none),
 * RawLocalFileSystem.setPermission runs `chmod` as a child process, and it
 * runs on every file create and every mkdirs: about 200 forks of the
 * driver JVM for one 64-bucket parquet write. Here the same mode bits
 * (sticky bit included) are set with one `unix:mode` attribute write.
 * Everything else, checksums (`.crc` files) included, is the stock code.
 *
 *   SpawnFreeLocalFileSystem      fs.file.impl (FileSystem API)
 *   SpawnFreeLocalFileSystem$Fs   fs.AbstractFileSystem.file.impl (FileContext
 *                                 API: streaming checkpoints, state stores)
 *
 * Build (from the repository root; the class bytes are reproducible, and
 * tests/test_localfs.py rebuilds them and compares):
 *
 *   H=$(python -c "import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), 'jars', 'hadoop-client-api-3.4.2.jar'))")
 *   rm -rf /tmp/localfs-classes && javac --release 17 -cp "$H" -d /tmp/localfs-classes \
 *     streaming_feature_store_spark/jvm/SpawnFreeLocalFileSystem.java
 *   jar --create --no-manifest --date=2000-01-01T00:00:00Z \
 *     --file streaming_feature_store_spark/jvm/spawn-free-localfs.jar -C /tmp/localfs-classes .
 */
package streaming_feature_store_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/** LocalFileSystem (checksummed) over {@link Raw}. */
public class SpawnFreeLocalFileSystem extends LocalFileSystem {

  public SpawnFreeLocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem whose setPermission is a syscall, not a process. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      Files.setAttribute(pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
    }
  }

  /** The FileContext twin of Hadoop's LocalFs: ChecksumFs over {@link RawFs}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** Hadoop's RawLocalFs, delegating to {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
