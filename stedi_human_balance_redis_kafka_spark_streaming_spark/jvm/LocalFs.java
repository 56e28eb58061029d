package stedi.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's checksummed file:// FileSystem ({@code fs.file.impl}) without
 * the shell-out it makes when no native libhadoop is loaded:
 * {@code setPermission} forks {@code chmod} for every file and directory
 * created.  It is answered in process, with the same result.
 */
public class LocalFs extends LocalFileSystem {
  public LocalFs() {
    super(new Raw());
  }

  /** RawLocalFileSystem with chmod done through java.nio. */
  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    /** chmod's result for modes up to 0777 on a file that has no
     *  setuid, setgid or sticky bit (chmod keeps a directory's setgid);
     *  anything else goes to the parent's chmod. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      java.nio.file.Path f = pathToFile(p).toPath();
      if (NativeIO.isAvailable() || mode > 0777
          || ((Integer) Files.getAttribute(f, "unix:mode") & 07000) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(f, perms);
    }
  }
}
