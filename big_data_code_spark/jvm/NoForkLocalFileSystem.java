// Hadoop's local filesystem without the per-file process spawns.
//
// Without libhadoop (the usual case for a pip-installed pyspark), the stock
// RawLocalFileSystem runs `chmod` in a child process for every directory
// and file it creates, and `readlink` in its getFileLinkStatus, twice per
// FileContext rename (each streaming checkpoint and state-store commit
// renames). These classes do the same calls in-process; permissions, .crc
// checksum files and rename atomicity are the stock ones.
//
// session.get_spark binds them (fs.file.impl, fs.AbstractFileSystem.file.impl)
// from nofork.jar beside this file. Rebuild the jar after editing, from the
// repo root:
//   J=$(python -c 'import pyspark,os;print(os.path.dirname(pyspark.__file__))')/jars; D=$(mktemp -d); javac --release 17 -cp "$J/*" -d $D big_data_code_spark/jvm/NoForkLocalFileSystem.java && jar --create --file big_data_code_spark/jvm/nofork.jar -C $D .
package big_data_code_spark.jvm;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
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

/** The checksummed {@code file:} FileSystem ({@code fs.file.impl}). */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem with chmod and readlink done in-process. */
  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      java.nio.file.Path path = pathToFile(p).toPath();
      int current;
      try {
        current = (Integer) Files.getAttribute(path, "unix:mode");
      } catch (NoSuchFileException e) {
        current = -1;
      }
      // sticky/setuid/setgid bits, a directory's setuid/setgid bits that
      // chmod(1) keeps for a 4-digit mode, and a missing path (chmod's own
      // error): the stock command
      if (mode > 0777 || current == -1 || ((current & 0170000) == 0040000 && (current & 06000) != 0)) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(path, perms);
    }

    /**
     * The stock lookup asks `readlink` about {@code f.toString()}, which for
     * a qualified path is "file:/...", a name that never resolves, so it
     * reads "" and returns getFileStatus(f). The same lookup in-process;
     * a path that is a link goes to the stock code.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      String target;
      try {
        target = Files.readSymbolicLink(new File(f.toString()).toPath()).toString();
      } catch (Exception e) {
        target = "";
      }
      return target.isEmpty() ? getFileStatus(f) : super.getFileLinkStatus(f);
    }
  }

  /** The FileContext binding ({@code fs.AbstractFileSystem.file.impl}),
   *  as org.apache.hadoop.fs.local.LocalFs over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** org.apache.hadoop.fs.local.RawLocalFs over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
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
