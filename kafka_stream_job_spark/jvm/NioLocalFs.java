package kafka_stream_job_spark.jvm;

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

/**
 * The local Hadoop FileSystem without a child process per call. Without
 * libhadoop, stock RawLocalFileSystem runs {@code chmod} for every file or
 * directory it creates and {@code readlink} for every FileContext rename.
 * Raw answers both in-process with java.nio and defers to the stock code
 * for the cases nio does not cover (special mode bits, non-POSIX stores,
 * symlinks). Local / RawFs / LocalFs wrap it exactly as LocalFileSystem,
 * RawLocalFs and LocalFs wrap the stock class, so .crc checksums and
 * FileContext's atomic rename-without-overwrite are unchanged.
 */
public final class NioLocalFs {
  private NioLocalFs() {}

  /** RawLocalFileSystem with nio chmod and a symlink-only readlink. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) { // sticky bit: keep the stock path
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      PosixFilePermission[] bits = PosixFilePermission.values(); // OWNER_READ .. OTHERS_EXECUTE
      for (int i = 0; i < bits.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(bits[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) { // not a POSIX file store
        super.setPermission(p, permission);
      }
    }

    /** readlink of a non-link is "", for which the stock code returns getFileStatus. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** fs.file.impl: LocalFileSystem (checksummed) over Raw. */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new Raw());
    }
  }

  /** RawLocalFs over Raw. */
  public static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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

  /** fs.AbstractFileSystem.file.impl: LocalFs (checksummed) over RawFs. */
  public static class LocalFs extends ChecksumFs {
    LocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(FsConstants.LOCAL_FS_URI, conf));
    }
  }
}
