/*
 * A file:// filesystem for Hadoop that starts no process.
 *
 * Without libhadoop (pip pyspark ships none), RawLocalFileSystem forks
 * `chmod` for every file and directory it creates with a permission, and
 * FileUtil.readLink forks `readlink` for every getFileLinkStatus, which
 * FileContext.rename calls on both ends of each rename. A Structured
 * Streaming batch renames and creates dozens of files (offsets, commits,
 * state deltas and their .crc sidecars), so those forks are most of its
 * commit cost. The classes below do the same two things in-process:
 *
 * - setPermission sets a 0777-range mode with Files.setPosixFilePermissions
 *   (sticky and other bits still go to the forked chmod);
 * - getFileLinkStatus of a path that is not a symlink is its getFileStatus,
 *   which is what the forked readlink yields today for every scheme-qualified
 *   path; a symlink still goes to RawLocalFileSystem.
 *
 * Everything else is Hadoop's: ChecksumFileSystem/ChecksumFs keep writing and
 * verifying .crc sidecars, and FileContext keeps its no-overwrite rename check.
 *
 * Wiring: fs.file.impl = NoForkLocalFs$Local and
 * fs.AbstractFileSystem.file.impl = NoForkLocalFs$LocalFs; the jar has to be
 * on the JVM's class path before Hadoop resolves either name.
 *
 * Build, from the repository root (tests/test_localfs.py fails when a class
 * in the committed jar is not what javac makes of this file):
 *   javac --release 17 -cp "<pyspark>/jars/*" -d <classes> bigdatainfinance1_spark/jvm/NoForkLocalFs.java
 *   jar --create --date=2026-01-01T00:00:00Z --no-manifest \
 *       --file bigdatainfinance1_spark/jvm/nofork-localfs.jar -C <classes> .
 */
package bigdatainfinance1.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

public final class NoForkLocalFs {
  private NoForkLocalFs() {}

  /** RawLocalFileSystem with the two forking calls done in-process. */
  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission.values() runs owner rwx, group rwx, others rwx:
    // bit 0400 first, 0001 last.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** fs.file.impl: the checksummed FileSystem over Raw. */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new Raw());
    }

    // The file:// FileSystem Spark resolves by default is Hive's
    // ProxyLocalFileSystem, which refuses to rename onto an existing file;
    // keep that.
    @Override
    @SuppressWarnings("deprecation")
    public boolean rename(Path src, Path dst) throws IOException {
      return !isFile(dst) && super.rename(src, dst);
    }
  }

  /** fs.AbstractFileSystem.file.impl: Hadoop's LocalFs over RawFs. */
  public static class LocalFs extends ChecksumFs {
    LocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /**
   * org.apache.hadoop.fs.local.RawLocalFs over Raw: that class hard-codes
   * `new RawLocalFileSystem()`, so its overrides are copied here.
   */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
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
