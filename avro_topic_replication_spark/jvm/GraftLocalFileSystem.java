package sparkgraft;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
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
 * Hadoop's checksummed local file system ({@code fs.file.impl}) without its
 * process forks. Without libhadoop, {@link RawLocalFileSystem} runs
 * {@code chmod} in a child process for every file it creates and every
 * directory it makes, and {@code readlink} for every link status
 * FileContext asks for: one fork per sink part file, {@code .crc} file,
 * offset, commit and source-log entry of a streaming micro-batch.
 *
 * <p>{@link Raw} sets the same permission through {@code java.nio} (one
 * {@code chmod} system call, following links as {@code chmod} does) and
 * asks {@code java.nio} whether a path is a symbolic link before it would
 * run {@code readlink}. Everything else is Hadoop's own code: the
 * {@code .crc} checksums, the modes (Hadoop's umask applied to Hadoop's
 * defaults) and the renames. A permission with a bit beyond {@code rwx}
 * (the sticky bit), which {@code java.nio} cannot set, and the status of a
 * path that is a symbolic link both go to Hadoop's code unchanged.
 *
 * <p>{@link Fs} is the same for FileContext ({@code
 * fs.AbstractFileSystem.file.impl}), which Structured Streaming's
 * checkpoint uses: Hadoop's {@code LocalFs} over {@link Raw}.
 */
public class GraftLocalFileSystem extends LocalFileSystem {
  public GraftLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} with its two shell-outs done in process. */
  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // OWNER_READ .. OTHERS_EXECUTE are the bits 0400 .. 0001, in order
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /**
     * Hadoop reads the link target with {@code readlink} of the path as
     * given and, for a path that is no link (or does not exist), returns
     * {@code getFileStatus}: so does this, without the fork.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      boolean link;
      try {
        link = Files.isSymbolicLink(new File(f.toString()).toPath());
      } catch (InvalidPathException e) {
        link = true; // let Hadoop's code decide
      }
      return link ? super.getFileLinkStatus(f) : getFileStatus(f);
    }
  }

  /** Hadoop's {@code LocalFs} (FileContext's checksummed local FS) over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** Hadoop's {@code RawLocalFs}, whose constructors are package-private, over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(),
          false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1; // no default port for file:///
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
      return true; // any local path is valid
    }
  }
}
