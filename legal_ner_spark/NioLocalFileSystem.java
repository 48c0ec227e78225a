package legal_ner_spark;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed local file system, setting permissions in-process.
 *
 * Without libhadoop, RawLocalFileSystem.setPermission forks /bin/chmod for
 * every directory it creates and every file it opens.  Raw sets a mode
 * that fits in 0777 with Files.setPosixFilePermissions and leaves every
 * other case to the stock method: sticky or set-id bits, a directory whose
 * set-id bits chmod would keep, a file system without the "unix" view, and
 * every error, so failures read as before.
 *
 * rename keeps the rule of Hive's ProxyLocalFileSystem, which Spark
 * resolves file: to when hive-exec is on the classpath: a rename onto an
 * existing file returns false.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS =
        PosixFilePermission.values();  // OWNER_READ (0400) ... OTHERS_EXECUTE

    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      int mode = permission.toShort();
      java.nio.file.Path path = pathToFile(p).toPath();
      try {
        int old = (Integer) Files.getAttribute(path, "unix:mode");
        // chmod keeps a directory's set-id bits under a 4-digit mode
        boolean keepsSetId = (old & 0170000) == 0040000 && (old & 06000) != 0;
        if ((mode & ~0777) == 0 && !keepsSetId) {
          Set<PosixFilePermission> perms =
              EnumSet.noneOf(PosixFilePermission.class);
          for (int i = 0; i < BITS.length; i++) {
            if ((mode & (0400 >> i)) != 0) {
              perms.add(BITS[i]);
            }
          }
          Files.setPosixFilePermissions(path, perms);
          return;
        }
      } catch (IOException | RuntimeException e) {
        // fall through: the stock method reports the failure
      }
      super.setPermission(p, permission);
    }
  }
}
