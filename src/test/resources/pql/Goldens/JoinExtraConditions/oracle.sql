SELECT l.EventId, l.State, l.InjuriesDirect, r.State AS "$right.State", r.Population
FROM (SELECT EventId, State, InjuriesDirect FROM StormEvents) l
JOIN (SELECT State, Population FROM States) r
  ON l.State = r.State AND r.Population > 2 AND coalesce(l.InjuriesDirect = 0, false)
ORDER BY l.EventId ASC NULLS FIRST
