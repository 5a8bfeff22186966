package e2e_etl_pipeline_spark;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

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

/**
 * Hadoop's checksummed local filesystem, except that permissions are set
 * with chmod(2) through java.nio instead of a forked chmod(1).
 *
 * <p>Without libhadoop, RawLocalFileSystem.setPermission runs
 * {@code chmod <mode> <path>} in a child process, and every file, checksum
 * file and directory a write creates goes through it. The modes that land
 * on disk are the same: the caller's umask is applied before
 * setPermission. Two cases keep the fork, because NIO cannot express them:
 * the sticky bit, and a directory that has its set-user-ID or set-group-ID
 * bit (chmod(1) keeps those on a directory under an octal mode, NIO clears
 * them).
 *
 * <p>{@code spark.hadoop.fs.file.impl} names this class (FileSystem
 * callers); {@code spark.hadoop.fs.AbstractFileSystem.file.impl} names
 * {@link Fs} (FileContext callers, such as streaming checkpoints).
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {

  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  /** The raw local filesystem under both wrappers. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path file = pathToFile(p).toPath();
      if (permission.getStickyBit()
          || ((Integer) Files.getAttribute(file, "unix:mode") & 06000) != 0 && Files.isDirectory(file)) {
        super.setPermission(p, permission);
        return;
      }
      // From the mode bits, as chmod(1) gets them: a subclass such as
      // FsCreateModes prints more than the nine rwx characters.
      String rwx = new FsPermission(permission.toShort()).toString();
      Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(rwx));
    }
  }

  /** LocalFs, with {@link Raw} under its checksums. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** RawLocalFs over {@link Raw}: the same server defaults and names. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
