package sparkgraft.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * The FileContext view of {@link NioRawLocalFileSystem}: Hadoop's RawLocalFs
 * (whose constructors are package-private) over the java.nio file system.
 */
public class NioRawLocalFs extends DelegateToFileSystem {
  NioRawLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(uri, new NioRawLocalFileSystem(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
