SELECT r_name AS survey_id,
       '# Survey of ' || r_name || chr(10) || chr(10) ||
       STRING_AGG(
         '## ' || n_name || chr(10) ||
         'Digest Construction: ' || chr(10) || 'focus on ' || n_name || chr(10) ||
         'Digest Analysis: ' || chr(10) || 'analysis of ' || n_name,
         chr(10) || chr(10) || chr(10) ORDER BY n_name) AS markdown
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
