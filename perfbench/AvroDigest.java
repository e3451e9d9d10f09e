import java.io.File;
import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.nio.charset.StandardCharsets;
import java.security.MessageDigest;
import java.util.Arrays;

import org.apache.avro.file.DataFileReader;
import org.apache.avro.generic.GenericDatumReader;
import org.apache.avro.generic.GenericRecord;

/**
 * Decodes every part-*.avro file of each export directory given on the
 * command line with Apache Avro's reference DataFileReader and prints
 * one line per directory: the directory, its row count and its content
 * digest. The digest matches fixture.row_digest: each row becomes its
 * field values as text joined by tabs, with \N for null; the sum, mod
 * 2^64, of the first 8 bytes (little endian) of each row's MD5 is
 * printed as an unsigned decimal.
 */
public final class AvroDigest {
  public static void main(String[] args) throws Exception {
    MessageDigest md5 = MessageDigest.getInstance("MD5");
    for (String dir : args) {
      File[] parts = new File(dir).listFiles(
          (d, name) -> name.startsWith("part-") && name.endsWith(".avro"));
      if (parts == null) {
        throw new IllegalArgumentException("not a directory: " + dir);
      }
      Arrays.sort(parts);
      long rows = 0;
      long digest = 0;
      StringBuilder line = new StringBuilder();
      for (File part : parts) {
        try (DataFileReader<GenericRecord> reader =
            new DataFileReader<>(part, new GenericDatumReader<>())) {
          int nFields = reader.getSchema().getFields().size();
          GenericRecord record = null;
          while (reader.hasNext()) {
            record = reader.next(record);
            line.setLength(0);
            for (int i = 0; i < nFields; i++) {
              if (i > 0) {
                line.append('\t');
              }
              Object v = record.get(i);
              line.append(v == null ? "\\N" : v.toString());
            }
            byte[] h = md5.digest(line.toString().getBytes(StandardCharsets.UTF_8));
            digest += ByteBuffer.wrap(h, 0, 8).order(ByteOrder.LITTLE_ENDIAN).getLong();
            rows++;
          }
        }
      }
      System.out.println(dir + "\t" + rows + "\t" + Long.toUnsignedString(digest));
    }
  }
}
