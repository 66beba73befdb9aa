package log_analysis_spark;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

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

/**
 * Hadoop's checksummed local file system, minus the process spawns.
 *
 * Without libhadoop, RawLocalFileSystem.setPermission forks chmod for every
 * file, .crc and directory it creates, and getFileLinkStatus forks readlink.
 * Raw does both with java.nio instead; everything else, .crc files included,
 * is the stock code.  Bind it with fs.file.impl (FileSystem) and
 * fs.AbstractFileSystem.file.impl (FileContext, used by stream checkpoints).
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission perm) throws IOException {
      if ((perm.toShort() & ~0777) != 0) { // sticky, setuid or setgid
        super.setPermission(p, perm);
        return;
      }
      String rwx = new FsPermission(perm.toShort()).toString(); // e.g. rwxr-xr-x
      Files.setPosixFilePermissions(pathToFile(p).toPath(), PosixFilePermissions.fromString(rwx));
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /**
   * The FileContext binding: org.apache.hadoop.fs.local.LocalFs over Raw.
   * The delegate overrides what stock RawLocalFs does (its constructors
   * are package-private).
   */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw(), conf, "file", false) {
        @Override
        public FsServerDefaults getServerDefaults(Path f) throws IOException {
          return LocalConfigKeys.getServerDefaults();
        }

        @Override
        public FsServerDefaults getServerDefaults() throws IOException {
          return LocalConfigKeys.getServerDefaults();
        }

        @Override
        public boolean isValidName(String src) {
          return true;
        }
      });
    }
  }
}
